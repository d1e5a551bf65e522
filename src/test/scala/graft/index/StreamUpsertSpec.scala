package graft.index

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** IndexWriter.streamUpsert: micro-batches merge into the bucketed index
  * exactly-once-by-id, across batches and across stream replays. */
class StreamUpsertSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("file-per-batch stream merges into the index; replay is idempotent") {
    val base = Files.createTempDirectory("graft_stream_upsert").toString
    val src = s"$base/src"
    val idx = s"$base/idx"
    // two source files with OVERLAPPING ids: id_50..id_99 arrive twice
    // (newest-wins merge must keep one row each)
    (0 until 100).map(i => (s"id_$i", s"v0_$i")).toDF("id", "payload")
      .coalesce(1).write.mode("append").parquet(src)
    (50 until 150).map(i => (s"id_$i", s"v1_$i")).toDF("id", "payload")
      .coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema

    def run(checkpoint: String): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1") // one micro-batch per file
        .parquet(src)
      val q = IndexWriter.streamUpsert(spark, stream, idx,
        checkpoint = checkpoint, buckets = 4)
      q.processAllAvailable(); q.stop()
    }

    run(s"$base/cp1")
    val after = spark.read.parquet(idx)
    assert(after.count() == 150L, "150 distinct ids across both batches")
    assert(IndexWriter.duplicateAudit(after).isEmpty, "no id appears twice")
    // ids in both files resolved — one surviving row each
    assert(after.filter(col("id") === "id_75").count() == 1L)

    // full replay from a FRESH checkpoint (the at-least-once worst case:
    // every batch redelivered) converges to the same table
    run(s"$base/cp2")
    val replayed = spark.read.parquet(idx)
    assert(replayed.count() == 150L)
    assert(IndexWriter.duplicateAudit(replayed).isEmpty)
  }

  test("replicaDiff classifies drift and stays silent on identical replicas") {
    val a = Seq((1L, "same"), (2L, "left version"), (3L, "only in a"))
      .toDF("id", "payload")
    val b = Seq((1L, "same"), (2L, "right version"), (4L, "only in b"))
      .toDF("id", "payload")
    val diff = IndexWriter.replicaDiff(a, b, "id", Seq("payload"))
      .as[(Long, String)].collect().toMap
    assert(diff == Map(2L -> "content_mismatch", 3L -> "missing_right",
      4L -> "missing_left"))
    assert(IndexWriter.replicaDiff(a, a, "id", Seq("payload")).isEmpty,
      "identical replicas produce an empty worklist")
    // the join carries digests, never the payload column
    val plan = IndexWriter.replicaDiff(a, b, "id", Seq("payload"))
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("payload#") ||
      !plan.split("Join").last.contains("payload#"),
      s"payload must be reduced to a digest before the join:\n$plan")
  }

  test("bucketDigestDiff: identical replicas match everywhere; an " +
      "edit or a missing row flags ONLY its id's bucket") {
    val a = (1L to 200L).map(i => (i, s"payload-$i")).toDF("id", "payload")
    // clean: every bucket matches (full outer keeps all buckets)
    val clean = IndexWriter.bucketDigestDiff(a, a, "id", Seq("payload"),
      buckets = 8)
    assert(clean.count() == clean.filter(col("bucket_match")).count())
    // edit id 7, drop id 13 → at most the two affected buckets flag,
    // and a mismatching bucket reveals which side lost rows
    val b = (1L to 200L).filter(_ != 13L)
      .map(i => (i, if (i == 7L) "edited" else s"payload-$i"))
      .toDF("id", "payload")
    val diff = IndexWriter.bucketDigestDiff(a, b, "id", Seq("payload"),
        buckets = 8)
      .select("bucket", "n_a", "n_b", "bucket_match")
      .as[(Long, Long, Long, Boolean)].collect()
    val bad = diff.filter(!_._4)
    assert(bad.nonEmpty && bad.length <= 2, s"over-flagging: ${bad.toSeq}")
    // the dropped row's bucket shows the count delta
    assert(bad.exists(t => t._2 == t._3 + 1),
      s"missing row must surface as n_a = n_b + 1: ${bad.toSeq}")
    // counts conserve across buckets
    assert(diff.map(_._2).sum == 200L && diff.map(_._3).sum == 199L)
    intercept[IllegalArgumentException] {
      IndexWriter.bucketDigestDiff(a, b, "id", Seq("payload"), 0)
    }
  }

  test("applyChangelog: latest op wins, deletes remove, inserts appear") {
    val snapshot = Seq((1L, "one"), (2L, "two"), (3L, "three"), (4L, "four"))
      .toDF("id", "payload")
    val changes = Seq(
      (2L, 1L, "U", "two-v1"),   // superseded by seq 2
      (2L, 2L, "U", "two-v2"),   // winner for id 2
      (3L, 1L, "U", "three-v1"), // then deleted at seq 2
      (3L, 2L, "D", null),
      (5L, 1L, "I", "five"),     // fresh insert
      (6L, 1L, "I", "six-v1"),   // insert then delete → never lands
      (6L, 2L, "D", null)
    ).toDF("id", "seq", "op", "payload")
    val out = IndexWriter.applyChangelog(snapshot, changes, "id", "seq", "op")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "one", 2L -> "two-v2", 4L -> "four", 5L -> "five"))
    // idempotent: applying the same changelog to the result is a no-op
    val again = IndexWriter
      .applyChangelog(out.toSeq.toDF("id", "payload"), changes, "id", "seq", "op")
      .as[(Long, String)].collect().toMap
    assert(again == out)
  }

  test("streamPostings: batches append postings + df partials; reads " +
      "equal the one-shot build; replay from a fresh checkpoint " +
      "converges (stored ids drop)") {
    val base = Files.createTempDirectory("graft_postings_stream").toString
    val src = s"$base/src"
    val pts = Seq(
      ("d1", Seq("spark", "joins", "spark")),
      ("d2", Seq("joins", "windows")),
      ("d3", Seq("spark", "state", "windows", "state")))
      .toDF("id", "tokens")
    pts.filter($"id" === "d1").coalesce(1).write.mode("append").parquet(src)
    pts.filter($"id" =!= "d1").coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    def run(cp: String): Unit = {
      val q = IndexWriter.streamPostings(spark,
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src),
        s"$base/idx", cp, positional = true)
      q.processAllAvailable(); q.stop()
    }
    run(s"$base/cp1")
    def canonP = IndexWriter.readPostings(spark, s"$base/idx")
      .as[(String, String, Long, Int)].collect().toSet
    def canonD = IndexWriter.readDocFrequencies(spark, s"$base/idx")
      .as[(String, Long)].collect().toSet
    val wantP = IndexWriter.postings(pts)
      .as[(String, String, Long, Int)].collect().toSet
    val wantD = IndexWriter.docFrequencies(pts)
      .as[(String, Long)].collect().toSet
    assert(canonP == wantP, s"streamed postings != one-shot: $canonP")
    assert(canonD == wantD, s"streamed df != one-shot: $canonD")
    def canonB = IndexWriter.readTermBounds(spark, s"$base/idx")
      .as[(String, Long, Int)].collect().toSet
    val wantB = IndexWriter.termBounds(IndexWriter.postings(pts))
      .as[(String, Long, Int)].collect().toSet
    assert(canonB == wantB, s"streamed termBounds != one-shot: $canonB")
    def canonK = IndexWriter.readBlockBounds(spark, s"$base/idx")
      .as[(String, Long, Long, Int)].collect().toSet
    val wantK = IndexWriter.blockBounds(IndexWriter.postings(pts))
      .as[(String, Long, Long, Int)].collect().toSet
    assert(canonK == wantK, s"streamed blockBounds != one-shot: $canonK")
    // positional tier: pruned read == one-shot build for the phrase's
    // terms, and phrase matching over the streamed store agrees
    val phrase = Seq("spark", "joins")
    def posSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, String, Int, Int)].collect().toSet
    assert(posSet(IndexWriter.readPositionsForTerms(spark, s"$base/idx",
        phrase)) ==
      posSet(IndexWriter.positionalPostings(pts)
        .filter($"term".isin(phrase: _*))))
    val st0 = IndexWriter.docFrequencies(pts)
    def hits(pp: org.apache.spark.sql.DataFrame) =
      graft.search.HybridSearch.phraseMatches(pp, st0, phrase)
        .as[(String, Int)].collect().toSeq
    assert(hits(IndexWriter.readPositionsForTerms(spark, s"$base/idx",
        phrase)) ==
      hits(IndexWriter.positionalPostings(pts)))
    assert(hits(IndexWriter.positionalPostings(pts)) == Seq(("d1", 0)),
      "the planted 'spark joins' phrase sits at d1 position 0")
    // simulated MID-BATCH CRASH: a batch died after its postings write
    // but before its stats writes (df partial for that batch lost).
    // Because every artifact write is a dynamic OVERWRITE of the
    // batch's own batch_id partitions, a fresh-checkpoint replay must
    // rebuild the lost partial without duplicating anything else —
    // the non-atomic-window fix (replay used to skip the whole batch
    // on postings presence, losing df/bounds/positions forever).
    val lostDf = new java.io.File(s"$base/idx/df")
      .listFiles().filter(_.getName.startsWith("batch_id="))
      .maxBy(_.getName)
    graft.ops.Joins.deleteRecursively(lostDf)
    assert(canonD != wantD, "sanity: the crash window lost a df partial")

    // at-least-once replay: a fresh checkpoint redelivers every file;
    // per-batch overwrite + the other-batches id anti-join must
    // converge (no duplicates, lost partial restored)
    run(s"$base/cp2")
    assert(canonP == wantP && canonD == wantD && canonB == wantB,
      "replay must not duplicate postings/df/bounds partials and must " +
        "restore the crashed batch's lost stats partial")

    // stats compaction: per-batch partials fold to one row per term,
    // read-backs identical, idempotent on a second pass
    val (db, da, bb, ba) = IndexWriter.compactPostingsStats(spark, s"$base/idx")
    assert(db > da && da == wantD.size.toLong,
      s"df partials must fold: $db -> $da (want ${wantD.size})")
    assert(bb > ba && ba == wantB.size.toLong,
      s"bounds partials must fold: $bb -> $ba (want ${wantB.size})")
    assert(canonD == wantD && canonB == wantB && canonP == wantP &&
      canonK == wantK, "compaction must not change any read-back")
    val (db2, da2, _, _) = IndexWriter.compactPostingsStats(spark, s"$base/idx")
    assert(db2 == da && da2 == da, "second compaction is a no-op fold")
    assert(canonD == wantD && canonB == wantB)
  }

  test("streamPostings: a batch's exactly duplicated row is indexed once") {
    val base = Files.createTempDirectory("graft_postings_dup").toString
    val src = s"$base/src"
    val pts = Seq(
      ("d1", Seq("spark", "joins")),
      ("d2", Seq("joins", "windows")))
      .toDF("id", "tokens")
    pts.unionByName(pts.filter($"id" === "d1"))
      .coalesce(1).write.parquet(src)
    val q = IndexWriter.streamPostings(spark,
      spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
      s"$base/idx", s"$base/cp", positional = true)
    q.processAllAvailable(); q.stop()
    assert(IndexWriter.readPostings(spark, s"$base/idx")
      .as[(String, String, Long, Int)].collect().sorted.toSeq ==
      IndexWriter.postings(pts)
        .as[(String, String, Long, Int)].collect().sorted.toSeq)
    assert(IndexWriter.readDocFrequencies(spark, s"$base/idx")
      .as[(String, Long)].collect().sorted.toSeq ==
      IndexWriter.docFrequencies(pts).as[(String, Long)].collect().sorted.toSeq)
  }

  test("forgetStreamedPostings: store-level takedown — read-backs == " +
      "a streamed build over survivors, untouched partition files stay " +
      "byte-stable, purged phrases disappear") {
    val base = Files.createTempDirectory("graft_forget_store").toString
    val src = s"$base/src"
    val pts = Seq(
      ("d1", Seq("spark", "joins", "spark")),
      ("d2", Seq("joins", "windows", "zonly", "zonly")),
      ("d3", Seq("spark", "state", "windows", "state")))
      .toDF("id", "tokens")
    pts.filter($"id" === "d1").coalesce(1).write.mode("append").parquet(src)
    pts.filter($"id" =!= "d1").coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val q = IndexWriter.streamPostings(spark,
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
      s"$base/idx", s"$base/cp", positional = true)
    q.processAllAvailable(); q.stop()

    // snapshot batch 0's files (d1's batch — no purged rows live there)
    def files(dir: java.io.File): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(dir).filter(_.getName.startsWith("part-"))
        .map(f => f.getPath -> ((f.length(), f.lastModified()))).toMap
    }
    val untouchedBefore = files(
      new java.io.File(s"$base/idx/postings/batch_id=0"))
    assert(untouchedBefore.nonEmpty)

    val (np, npos) = IndexWriter.forgetStreamedPostings(spark,
      s"$base/idx", Seq("d2").toDF("id"))
    assert(np >= 1 && npos >= 1, "d2's partitions must be rewritten")

    val survivors = pts.filter($"id" =!= "d2")
    assert(IndexWriter.readPostings(spark, s"$base/idx")
      .as[(String, String, Long, Int)].collect().toSet ==
      IndexWriter.postings(survivors)
        .as[(String, String, Long, Int)].collect().toSet)
    assert(IndexWriter.readDocFrequencies(spark, s"$base/idx")
      .as[(String, Long)].collect().toSet ==
      IndexWriter.docFrequencies(survivors)
        .as[(String, Long)].collect().toSet)
    assert(IndexWriter.readTermBounds(spark, s"$base/idx")
      .as[(String, Long, Int)].collect().toSet ==
      IndexWriter.termBounds(IndexWriter.postings(survivors))
        .as[(String, Long, Int)].collect().toSet)
    assert(IndexWriter.readBlockBounds(spark, s"$base/idx")
      .as[(String, Long, Long, Int)].collect().toSet ==
      IndexWriter.blockBounds(IndexWriter.postings(survivors))
        .as[(String, Long, Long, Int)].collect().toSet)
    assert(spark.read.parquet(s"$base/idx/positions")
      .select("term", "id", "pos", "dl")
      .as[(String, String, Int, Int)].collect().toSet ==
      IndexWriter.positionalPostings(survivors)
        .as[(String, String, Int, Int)].collect().toSet)
    // "zonly" lived only in d2 — its stats rows must be gone entirely
    assert(IndexWriter.readDocFrequencies(spark, s"$base/idx")
      .filter($"term" === "zonly").isEmpty)
    // untouched batch-0 partitions kept their exact files
    assert(files(new java.io.File(s"$base/idx/postings/batch_id=0")) ==
      untouchedBefore, "partitions without purged rows must not rewrite")
    // the surviving phrase still serves; d2's phrase is undiscoverable
    val dfNow = IndexWriter.readDocFrequencies(spark, s"$base/idx")
    def hits(phrase: Seq[String]) =
      graft.search.HybridSearch.phraseMatches(
        IndexWriter.readPositionsForTerms(spark, s"$base/idx", phrase),
        dfNow, phrase).as[(String, Int)].collect().toSeq
    assert(hits(Seq("spark", "joins")) == Seq(("d1", 0)))
    assert(hits(Seq("joins", "windows")).isEmpty,
      "the purged doc's phrase must be gone from the positional store")
    // idempotent: forgetting the same ids again touches nothing
    assert(IndexWriter.forgetStreamedPostings(spark, s"$base/idx",
      Seq("d2").toDF("id")) == ((0L, 0L)))
  }

  test("forget ops: maintained postings/df/bounds/corpus-stats == " +
      "from-scratch rebuild on survivors; stale bounds stay sound") {
    // d2 is the only holder of "rare" (df drops to zero), holds the max
    // tf of "spark" (max_tf must tighten 3 -> 2) and is the shortest
    // doc carrying "joins" (min_dl must loosen upward on retighten);
    // d5 is TOKEN-LESS — it has no postings rows, so its n_docs
    // decrement can only come from the corpus-derived (id, dl) path
    val pts = Seq(
      ("d1", Seq("spark", "spark", "joins", "windows", "state", "extra")),
      ("d2", Seq("spark", "spark", "spark", "rare", "joins")),
      ("d3", Seq("spark", "windows", "state", "joins", "filler", "pad")),
      ("d4", Seq("windows", "state")),
      ("d5", Seq.empty[String]))
      .toDF("id", "tokens")
    val survivorsPts = pts.filter($"id" =!= "d2" && $"id" =!= "d5")
    val ids = Seq("d2", "d5").toDF("id")
    val postings = IndexWriter.postings(pts)
    val purged = IndexWriter.purgedPostings(postings, ids)
    val kept = IndexWriter.forgetPostings(postings, ids)

    def pSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, String, Long, Int)].collect().toSet
    assert(pSet(kept) == pSet(IndexWriter.postings(survivorsPts)))

    def dSet(df: org.apache.spark.sql.DataFrame) =
      df.select($"term", $"df".cast("long")).as[(String, Long)]
        .collect().toSet
    val dfMaintained = IndexWriter.forgetDocFrequencies(
      IndexWriter.docFrequencies(pts), purged)
    assert(dSet(dfMaintained) == dSet(IndexWriter.docFrequencies(survivorsPts)))
    assert(dfMaintained.filter($"term" === "rare").isEmpty,
      "a term whose last holder is purged must leave the stats table")

    def bSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Int)].collect().toSet
    val stale = IndexWriter.termBounds(postings)
    val tightened = IndexWriter.forgetTermBounds(stale, kept, purged)
    val rebuilt = IndexWriter.termBounds(IndexWriter.postings(survivorsPts))
    assert(bSet(tightened) == bSet(rebuilt))
    assert(tightened.filter($"term" === "spark")
      .select("max_tf").as[Long].head() == 2L,
      "purging the max-tf holder must retighten the bound")
    // the LAZY path (skip retightening) must still dominate the true
    // bounds — MaxScore stays correct, just less selective
    val dominance = stale.join(rebuilt.withColumnRenamed("max_tf", "r_tf")
        .withColumnRenamed("min_dl", "r_dl"), "term")
      .filter($"max_tf" < $"r_tf" || $"min_dl" > $"r_dl")
    assert(dominance.isEmpty, "stale bounds must stay valid upper bounds")

    // corpus stats: the delta must come from the corpus-derived
    // (id, dl) rows — purged postings would miss token-less d5 and
    // leave n_docs one too high
    val cs = IndexWriter.forgetCorpusStats(5L,
      pts.select(explode($"tokens")).count(),
      IndexWriter.purgedDocLengths(pts, ids))
      .as[(Long, Long)].head()
    assert(cs == ((3L,
      survivorsPts.select(explode($"tokens")).count())))
    val csFromPostings = IndexWriter.forgetCorpusStats(5L,
      pts.select(explode($"tokens")).count(), purged)
      .as[(Long, Long)].head()
    assert(csFromPostings._1 == 4L,
      "postings-derived deltas DO miss the token-less doc — the " +
        "defect purgedDocLengths exists to close")

    // the POSITIONAL tier forgets the same way, and a purged doc's
    // phrase hits disappear with it (the takedown contract: no token
    // positions left discoverable via phrase/proximity search)
    def posSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, String, Int, Int)].collect().toSet
    val posAll = IndexWriter.positionalPostings(pts)
    val posKept = IndexWriter.forgetPositionalPostings(posAll, ids)
    assert(posSet(posKept) ==
      posSet(IndexWriter.positionalPostings(survivorsPts)),
      "maintained positional postings must equal a survivor rebuild")
    val phrase = Seq("spark", "rare")  // only d2 holds it
    val dfAll = IndexWriter.docFrequencies(pts)
    assert(graft.search.HybridSearch.phraseMatches(posAll, dfAll, phrase)
      .as[(String, Int)].collect().toSeq == Seq(("d2", 2)),
      "the planted phrase must hit d2 before the purge")
    assert(graft.search.HybridSearch.phraseMatches(posKept,
        IndexWriter.forgetDocFrequencies(dfAll, purged), phrase).isEmpty,
      "after the purge the phrase must be undiscoverable")

    // the block tier forgets the same way
    def kSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Long, Int)].collect().toSet
    val staleBlocks = IndexWriter.blockBounds(postings, nBlocks = 4)
    assert(kSet(IndexWriter.forgetBlockBounds(staleBlocks, kept, purged,
        nBlocks = 4)) ==
      kSet(IndexWriter.blockBounds(IndexWriter.postings(survivorsPts),
        nBlocks = 4)))
  }

  test("purgedDocLengths: a NULL token array counts as a zero-length " +
      "doc (size(NULL) is -1, which would credit total_dl on purge)") {
    val pts = Seq(
      ("d1", Option(Seq("a", "b"))),
      ("d2", Option.empty[Seq[String]]),
      ("d3", Option(Seq.empty[String])))
      .toDF("id", "tokens")
    val ids = Seq("d2", "d3").toDF("id")
    val dls = IndexWriter.purgedDocLengths(pts, ids)
      .as[(String, Int)].collect().toMap
    assert(dls == Map("d2" -> 0, "d3" -> 0), s"$dls")
    val cs = IndexWriter.forgetCorpusStats(3L, 2L,
      IndexWriter.purgedDocLengths(pts, ids)).as[(Long, Long)].head()
    assert(cs == ((1L, 2L)),
      "null/empty-token purges decrement n_docs only, never total_dl")
  }
}
