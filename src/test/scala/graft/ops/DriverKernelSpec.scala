package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.functions.DriverEval
import graft.functions.GraftFunctions.vecCosine

/** Each driver-side serving kernel equals the Spark form it replaces:
  * the walk score and the MaxSim pair score against their columns, the
  * term bucket against `pmod(xxhash64(term), n)`, the single and the
  * lockstep batch HNSW walks against a Spark reference walk — on
  * generated inputs plus the degenerate ones (zero vectors, length
  * mismatches, ±0.0, exact ties, `ef` over the corpus, tombstones, an
  * upper layer over the hold cap, a batch of one, a repeated query). */
class DriverKernelSpec extends AnyFunSuite with SparkTestBase {

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private val component: Gen[Float] = Gen.frequency(
    6 -> Gen.choose(-2f, 2f),
    1 -> Gen.oneOf(0f, -0f, 1f, -1f, 0.5f))

  private def vecOf(dim: Int): Gen[Array[Float]] =
    Gen.listOfN(dim, component).map(_.toArray)

  /** Spark's (score desc nulls last, id asc) on (id, score) pairs. */
  private def ranked[I](rows: Seq[(I, Any)]): Seq[(I, Any)] =
    rows.sortWith((a, b) => DriverEval.before(a._2, a._1, b._2, b._1))

  test("driver vector scores equal Spark's columns: random vectors, " +
      "zero vectors, length mismatches, ±0.0 components, exact ties") {
    import spark.implicits._
    val random = sample(Gen.listOfN(300, for {
      la <- Gen.choose(0, 5)
      lb <- Gen.frequency(4 -> Gen.const(la), 1 -> Gen.choose(0, 5))
      a <- vecOf(la)
      b <- vecOf(lb)
    } yield (a, b)), 11L)
    val v = Array(0.3f, -1.25f, 2f, 0f)
    val fixed = Seq(
      (v, v), (v, v.map(_ * 2)), (v, v.map(-_)),                // ties: ±1
      (v, Array.fill(4)(0f)), (Array.fill(4)(-0f), v),          // zero norm
      (v, v.take(3)), (Array.empty[Float], Array.empty[Float]), // mismatch
      (Array(-0f, 1f), Array(0f, 1f)), (Array(1f, -0f), Array(-1f, 0f)),
      (Array(1e-7f, 0f), Array(-1e-7f, 0f)))
    val pairs = (random ++ fixed).toIndexedSeq
    val df = pairs.zipWithIndex.map { case ((a, b), i) => (i, a.toSeq, b.toSeq) }
      .toDF("i", "a", "b")
      .select($"i", $"a".cast("array<float>").as("a"),
        $"b".cast("array<float>").as("b"))
    val exprs = Seq(
      round(vecCosine(col("a"), col("b")), 6),
      round(vecCosine(col("a"), col("b")) * 1000000, 0).cast("long"))
    for (e <- exprs) {
      val want = df.select($"i", e).collect().map(r => r.getInt(0) -> r.get(1)).toMap
      val drv = new DriverEval.VectorExpr(spark, Seq("a", "b"), e)
      pairs.indices.foreach { i =>
        val got = drv(pairs(i)._1, pairs(i)._2)
        assert(java.util.Objects.equals(got, want(i)),
          s"$e at ${pairs(i)._1.toSeq} · ${pairs(i)._2.toSeq}: driver $got, Spark ${want(i)}")
      }
    }
    // the driver rank is Spark's sort over the same (id, score) rows,
    // nulls and tied scores included
    val scored = df.select($"i", exprs.head.as("s"))
    val sparkOrder = scored.orderBy(desc("s"), col("i"))
      .collect().map(r => (r.getInt(0), r.get(1))).toSeq
    assert(ranked(scored.collect().map(r => (r.getInt(0), r.get(1))).toSeq) == sparkOrder)
  }

  test("driver term bucket equals pmod(xxhash64(term), n): ASCII, " +
      "non-ASCII and empty terms") {
    import spark.implicits._
    val terms = (Seq("", " ", "a", "court", "COURT", "§1983", "naïve",
        "Ünïcødé", "日本語", "😀", "tab\there") ++
      sample(Gen.listOfN(200, Gen.oneOf(Gen.alphaStr, Gen.asciiStr,
        Gen.stringOf(Gen.choose(' ', '߿')))), 5L)).distinct
    for (n <- Seq(64, 7)) {
      val want = terms.toDF("t")
        .select($"t", pmod(xxhash64($"t"), lit(n.toLong)))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      terms.foreach(t => assert(graft.index.IndexWriter.termBucket(t, n) == want(t),
        s"bucket of '$t' mod $n"))
    }
  }

  private val maxLevel = 3

  /** An index over generated (id, vector) rows; `holdCap` set before
    * anything forces the held upper layers. */
  private def index(rows: Seq[(Long, Array[Float])], build: String = "broadcast",
      holdCap: Option[Int] = None): Similarity.HnswIndex = {
    import spark.implicits._
    val df = rows.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val idx = new Similarity.HnswIndex(df, m = 4, maxLevel = maxLevel, build = build,
      dim = rows.head._2.length)
    holdCap.foreach(idx.heldLayerCap = _)
    idx
  }

  /** Every query's single driver walk ([[Similarity.HnswIndex.search]],
    * or `searchTombstoned`), its row of the lockstep batch walk
    * ([[Similarity.HnswIndex.searchBatch]]) and its row of the Spark
    * reference walk ([[sparkWalk]]) are the same rows. The batch runs
    * as given and once more with its first query alone. */
  private def walksMatchBatch(idx: Similarity.HnswIndex,
      queries: Seq[Array[Float]], k: Int, ef: Int, hops: Int,
      tomb: Option[DataFrame] = None): Unit = {
    import spark.implicits._
    def table(qs: Seq[Array[Float]]) = qs.zipWithIndex
      .map { case (v, q) => (q.toLong, v.toSeq) }
      .toDF("query_id", "qv").select($"query_id", $"qv".cast("array<float>").as("qv"))
    def byQuery(df: DataFrame) = df.collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> ranked(rs.toSeq.map(r => (r.getLong(1), r.get(2)))) }
    for (qs <- Seq(queries, queries.take(1))) {
      val qdf = table(qs)
      val batch = byQuery(idx.searchBatch(qdf, k, ef, hops, tombstones = tomb))
      val ref = byQuery(sparkWalk(idx, qdf, k, ef, hops, tomb))
      qs.zipWithIndex.foreach { case (v, q) =>
        val single = tomb.fold(idx.search(v, k, ef, hops))(
            t => idx.searchTombstoned(v, k, t, ef, hops))
          .collect().map(r => (r.getLong(0), r.get(1))).toSeq
        assert(single == batch.getOrElse(q.toLong, Nil),
          s"query ${v.toSeq} (k=$k ef=$ef hops=$hops): driver $single, batch ${batch.get(q.toLong)}")
        assert(single == ref.getOrElse(q.toLong, Nil),
          s"query ${v.toSeq} (k=$k ef=$ef hops=$hops): driver $single, Spark ${ref.get(q.toLong)}")
      }
    }
  }

  /** The HNSW walk as Spark plans over a query table (qid, qv), every
    * hop one frontier⋈graph join for all queries: the reference the
    * driver walks must equal. Greedy top-1 steps per upper layer, then
    * `hops` layer-0 pools whose top-`ef` is the next frontier; the
    * visited set is the union of the pools, tombstoned ids are dropped
    * only from the result. Returns (query_id, id, cos), top-k per
    * query. */
  private def sparkWalk(idx: Similarity.HnswIndex, queries: DataFrame,
      k: Int, ef: Int, hops: Int, tombstones: Option[DataFrame]): DataFrame = {
    val g = idx.graph
    val qs = queries.select(col("query_id").as("qid"), col("qv").as("__qv"))
      .localCheckpoint()
    def scoreOf(cand: DataFrame): DataFrame = cand
      .join(idx.vecs, "id")
      .join(broadcast(qs), "qid")
      .withColumn("cos", round(vecCosine(col("vec"), col("__qv")), 6))
      .select("qid", "id", "cos")
    var cur = scoreOf(qs.select(col("qid"), lit(idx.entryId).as("id")))
      .localCheckpoint()
    for (l <- maxLevel to 1 by -1) {
      for (_ <- 1 to idx.hopsPerLayer) {
        val nbrs = cur.select("qid", "id")
          .join(g.filter(col("layer") === l), "id")
          .select(col("qid"), col("nbr").as("id"))
        val pool = cur.select("qid", "id").unionByName(nbrs)
        cur = graft.plans.TopK.perKey(scoreOf(pool), Seq("qid"),
          Seq(("cos", false), ("id", true)), 1)
      }
      cur = cur.localCheckpoint()
    }
    var frontier = cur
    val pools = scala.collection.mutable.ArrayBuffer(cur)
    for (_ <- 1 to hops) {
      val nbrs = frontier.select("qid", "id")
        .join(g.filter(col("layer") === 0), "id")
        .select(col("qid"), col("nbr").as("id"))
      val pool = frontier.unionByName(scoreOf(nbrs))
        .groupBy("qid", "id").agg(max("cos").as("cos"))
        .localCheckpoint()
      pools += pool
      frontier = graft.plans.TopK.perKey(pool, Seq("qid"),
        Seq(("cos", false), ("id", true)), ef)
    }
    val visited0 = pools.reduce(_ unionByName _)
      .groupBy("qid", "id").agg(max("cos").as("cos"))
    val visited = tombstones.fold(visited0) { t =>
      visited0.join(t.select(col("vec_id").cast("long").as("id"))
        .distinct(), Seq("id"), "left_anti")
    }
    graft.plans.TopK.perKey(visited, Seq("qid"),
        Seq(("cos", false), ("id", true)), k)
      .select(col("qid").as("query_id"), col("id"), col("cos"))
  }

  private def corpus(n: Int, dim: Int, seed: Long): Seq[(Long, Array[Float])] =
    sample(Gen.listOfN(n, vecOf(dim)), seed).zipWithIndex
      .map { case (v, i) => (i.toLong * 13 + 5, v) }

  private def queriesFor(rows: Seq[(Long, Array[Float])], seed: Long): Seq[Array[Float]] = {
    val dim = rows.head._2.length
    val qs = sample(Gen.listOfN(3, vecOf(dim)), seed)
    // a zero vector, a corpus vector, and the first query again under
    // another query_id
    qs ++ Seq(Array.fill(dim)(0f), rows(rows.size / 2)._2, qs.head)
  }

  test("driver HNSW walk = searchBatch on generated corpora, both builds") {
    for ((build, seed) <- Seq(("broadcast", 21L), ("nndescent", 22L))) {
      val rows = corpus(160, 6, seed)
      walksMatchBatch(index(rows, build), queriesFor(rows, seed + 100),
        k = 7, ef = 8, hops = 3)
    }
  }

  test("driver HNSW walk = searchBatch when every vector is identical " +
      "(ties resolve on id) and for a zero query vector") {
    val v = Array(0.5f, -1f, 0.25f, 2f)
    val rows = (0 until 60).map(i => (i.toLong * 31 + 2, v))
    walksMatchBatch(index(rows), Seq(v, Array.fill(4)(0f), Array(1f, 0f, 0f, 0f)),
      k = 10, ef = 6, hops = 2)
  }

  test("driver HNSW walk = searchBatch with ef at and above the corpus size") {
    val rows = corpus(30, 5, 31L)
    walksMatchBatch(index(rows), queriesFor(rows, 131L), k = 30, ef = 30, hops = 3)
    walksMatchBatch(index(rows), queriesFor(rows, 132L), k = 5, ef = 64, hops = 4)
  }

  test("driver HNSW walk with tombstones = searchBatch with tombstones") {
    import spark.implicits._
    val rows = corpus(150, 6, 41L)
    val tomb = rows.map(_._1).filter(_ % 3 == 0).toDF("vec_id")
    walksMatchBatch(index(rows), queriesFor(rows, 141L), k = 8, ef = 10,
      hops = 3, tomb = Some(tomb))
  }

  test("driver HNSW walk = searchBatch when upper layers exceed the hold " +
      "cap and are read per hop, and when a repeated id keeps its max cos") {
    val rows = corpus(200, 6, 51L)
    assert(rows.count(r => levelOf(r._1) >= 1) > 2, "layer 1 must exceed the cap")
    for (cap <- Seq(0, 2)) {
      val idx = index(rows, holdCap = Some(cap))
      walksMatchBatch(idx, queriesFor(rows, 151L + cap), k = 6, ef = 8, hops = 3)
      assert(idx.heldLayers.from >= 2, s"cap $cap must leave layer 1 unheld")
    }
    val dup = rows :+ (rows(10)._1 -> sample(vecOf(6), 52L))
    walksMatchBatch(index(dup), queriesFor(dup, 152L), k = 6, ef = 8, hops = 3)
  }

  /** The md5 trailing-zero-nibble level of an id (capped at 3). */
  private def levelOf(id: Long): Int = {
    val h = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString).take(8), 16)
    (1 to 3).foldLeft(0)((acc, l) => if (h % math.pow(16, l).toLong == 0) l else acc)
  }
}
