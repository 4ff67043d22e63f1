package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Future, Promise, TimeoutException}
import scala.concurrent.duration._

/** The bounded wait on a gate's concurrent legs (e12/e14/e16/e22). */
class SimQueriesLegWaitSpec extends AnyFunSuite {

  test("a gate leg that never finishes times out naming the gate, the leg and the bound") {
    assert(SimQueries.awaitLeg("e12", "nprobe=2", Future.successful(7L), 50.millis) === 7L)
    val never = Promise[Long]().future
    val ex = intercept[TimeoutException] {
      SimQueries.awaitLeg("e12", "nprobe=8", never, 50.millis)
    }
    assert(ex.getMessage === "SimQueries.e12: leg nprobe=8 not finished within 50 milliseconds")
  }
}
