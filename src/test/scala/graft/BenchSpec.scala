package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.foldReps]]: how one entry's repeats become its reported
  * (wall, rows). Rows -1 is a rep that threw, -2 one that hit the cap. */
class BenchSpec extends AnyFunSuite {

  test("rep fold: wall and rows come from successful reps only") {
    // a rep that throws after 0.05 s must not report 0.05 s as the wall
    assert(Bench.foldReps(Seq((0.05, -1L), (2.0, 10L))) == ((2.0, 10L)))
    // a flaky LAST rep must not mark a good entry failed
    assert(Bench.foldReps(Seq((3.0, 10L), (0.05, -1L))) == ((3.0, 10L)))
    assert(Bench.foldReps(Seq((180.0, -2L), (4.0, 10L))) == ((4.0, 10L)))
    // best of the successful reps
    assert(Bench.foldReps(Seq((3.0, 10L), (0.01, -1L), (2.5, 10L), (180.0, -2L)))
      == ((2.5, 10L)))
  }

  test("rep fold: an entry fails only when every rep failed") {
    val (_, n) = Bench.foldReps(Seq((0.05, -1L), (180.0, -2L)))
    assert(n < 0)
    assert(Bench.foldReps(Seq((0.05, -1L))) == ((0.05, -1L)))
    assert(Bench.foldReps(Seq((0.05, -1L), (180.0, -2L))) == ((180.0, -2L)))
  }
}
