package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench error semantics (VERDICT r7 "What's wrong" #3): a NonFatal query
  * failure is named and the suite continues; a fatal JVM error aborts the
  * whole bench — after an OOM the JVM is poisoned and every later timing
  * would be fast-looking garbage indistinguishable from a real speedup in
  * cross-round diffs. No SparkSession needed: the contract is on the
  * per-query wrapper itself.
  */
class BenchFatalSpec extends AnyFunSuite {

  test("NonFatal query failure -> Left(name), suite continues") {
    val r = Bench.timeQuery("boom", () => throw new RuntimeException("bad plan"))
    assert(r == Left("boom"))
  }

  test("successful query -> Right(name -> elapsed)") {
    val r = Bench.timeQuery("ok", () => ())
    assert(r.isRight)
    val (name, sec) = r.toOption.get
    assert(name == "ok")
    assert(sec >= 0.0)
  }

  test("injected OutOfMemoryError propagates (bench aborts, non-zero exit)") {
    // constructing and throwing the error object does not exhaust memory;
    // it exercises exactly the catch-classification path
    intercept[OutOfMemoryError] {
      Bench.timeQuery("fatal", () => throw new OutOfMemoryError("injected"))
    }
  }

  test("injected StackOverflowError propagates too") {
    intercept[StackOverflowError] {
      Bench.timeQuery("fatal2", () => throw new StackOverflowError())
    }
  }

  test("Verify: NonFatal dump failure is skipped, OutOfMemoryError propagates") {
    assert(!Verify.dumpQuery("boom", () => throw new RuntimeException("bad plan")))
    assert(Verify.dumpQuery("ok", () => ()))
    intercept[OutOfMemoryError] {
      Verify.dumpQuery("fatal", () => throw new OutOfMemoryError("injected"))
    }
  }
}
