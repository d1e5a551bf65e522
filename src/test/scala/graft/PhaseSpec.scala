package graft

import org.scalatest.funsuite.AnyFunSuite

/** Phase marks: free outside a bench recording, summed with `output`
  * to the run's wall time inside one, and never leaked past a throw. */
class PhaseSpec extends AnyFunSuite {

  test("outside record, a phase runs its block and logs nothing") {
    assert(!Phase.recording)
    assert(Phase("build")(41 + 1) == 42)
    assert(!Phase.recording)
    assert(Phase.record(())._2.isEmpty)
  }

  test("the marks plus output sum to the recorded wall time") {
    val t0 = System.nanoTime()
    val (v, marks) = Phase.record {
      Phase("build") { Thread.sleep(30) }
      Thread.sleep(20)
      Phase("apply") { Thread.sleep(30); 7 }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    assert(v == 7 && marks.map(_._1) == Seq("build", "apply"))
    assert(marks.forall(_._2 >= 0.03))
    val recs = Bench.phaseRecords(wall, marks)
    assert(recs.map(_._1) == Seq("build", "apply", "output"))
    assert(math.abs(recs.map(_._2).sum - wall) < 1e-9)
    assert(recs.last._2 >= 0.02, s"the unmarked sleep is output: $recs")
    assert(Bench.phaseRecords(wall, Nil).isEmpty,
      "a run that marked nothing records no phases")
  }

  test("a block that throws leaves no recorder state for the next record") {
    intercept[IllegalStateException] {
      Phase.record { Phase("build") { throw new IllegalStateException("x") } }
    }
    assert(!Phase.recording)
    val (_, marks) = Phase.record(Phase("apply")(1))
    assert(marks.map(_._1) == Seq("apply"))
    assert(!Phase.recording)
  }
}
