package graft.util

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

/** [[EventTs.loadEvents]] reads with the session the caller built: it
  * fails fast when the session lacks the legacy nanos setting, and never
  * sets it on the caller's session. */
class EventTsSpec extends AnyFunSuite with SparkSpec {

  test("loadEvents fails fast without the nanos setting and leaves it unset") {
    val fresh = spark.newSession()
    fresh.conf.unset(EventTs.NanosAsLong)
    val before = fresh.conf.getOption(EventTs.NanosAsLong)
    assert(!before.contains("true"))
    val e = intercept[IllegalArgumentException] {
      EventTs.loadEvents(fresh, "events-dir")
    }
    assert(e.getMessage.contains(EventTs.NanosAsLong))
    assert(fresh.conf.getOption(EventTs.NanosAsLong) === before)
  }
}
