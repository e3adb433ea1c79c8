package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Ckpt.converge`, the round driver of the fixpoint loops: it calls
  * the step once per round, returns the state of the first step that
  * reports done, and throws after `maxRounds` steps that never do.
  */
class FixpointSpec extends AnyFunSuite {

  /** A step that adds its round to the state and is done on `doneAt`;
    * returns the result (or the throw) and the number of calls.
    */
  private def run(maxRounds: Int, doneAt: Int): (Either[Throwable, Int], Int) = {
    var calls = 0
    val out =
      try Right(Ckpt.converge("toy loop", maxRounds)(100) { (s, round) =>
        calls += 1
        assert(round == calls, "rounds are numbered 1, 2, ... in call order")
        (s + round, round == doneAt)
      })
      catch { case e: IllegalStateException => Left(e) }
    (out, calls)
  }

  test("a step done on round k is called k times and its state returned") {
    val (out, calls) = run(maxRounds = 10, doneAt = 3)
    assert(calls == 3)
    assert(out == Right(100 + 1 + 2 + 3))
  }

  test("a step done on the last allowed round returns") {
    val (out, calls) = run(maxRounds = 4, doneAt = 4)
    assert(calls == 4)
    assert(out == Right(100 + 1 + 2 + 3 + 4))
  }

  test("a step never done throws after exactly maxRounds calls") {
    val (out, calls) = run(maxRounds = 4, doneAt = 5)
    assert(calls == 4)
    val msg = out.left.toOption.map(_.getMessage).getOrElse("")
    assert(out.isLeft, "past the cap the driver must throw")
    assert(msg.contains("toy loop"), msg)
    assert(msg.contains("4 rounds"), msg)
  }
}
