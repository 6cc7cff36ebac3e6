package graft.core

import java.time.Duration
import org.scalatest.funsuite.AnyFunSuite

class OffsetsSpec extends AnyFunSuite {

  test("parses the offset strings the reference uses") {
    assert(Offsets.parse("1min") == Duration.ofMinutes(1))
    assert(Offsets.parse("5min") == Duration.ofMinutes(5))
    assert(Offsets.parse("15min") == Duration.ofMinutes(15))
    assert(Offsets.parse("30min") == Duration.ofMinutes(30))
    assert(Offsets.parse("1H") == Duration.ofHours(1))
    assert(Offsets.parse("1h") == Duration.ofHours(1))
    assert(Offsets.parse("30s") == Duration.ofSeconds(30))
    assert(Offsets.parse("2D") == Duration.ofDays(2))
    assert(Offsets.parse("1W") == Duration.ofDays(7))
    assert(Offsets.parse("250ms") == Duration.ofMillis(250))
  }

  test("bare unit means 1") {
    assert(Offsets.parse("min") == Duration.ofMinutes(1))
    assert(Offsets.parse("H") == Duration.ofHours(1))
  }

  test("invalid strings throw ConfigValidationException") {
    assertThrows[ConfigValidationException](Offsets.parse("abc123"))
    assertThrows[ConfigValidationException](Offsets.parse("5 lightyears"))
    assertThrows[ConfigValidationException](Offsets.parse(""))
  }

  test("toSparkInterval renders a valid interval expression") {
    assert(Offsets.toSparkInterval(Duration.ofMinutes(90)) == "INTERVAL 5400000000 MICROSECONDS")
    assert(Offsets.toSparkInterval(Duration.ofMillis(1500)) == "INTERVAL 1500000 MICROSECONDS")
  }

  test("toFreqString matches the reference's pinned '3600s' format") {
    assert(Offsets.toFreqString(Duration.ofHours(1)) == "3600s")
    assert(Offsets.toFreqString(Duration.ofSeconds(90)) == "90s")
  }

  test("toFreqString prints sub-second durations exactly; parse reads them back") {
    assert(Offsets.toFreqString(Duration.ofMillis(500)) == "500ms")
    assert(Offsets.toFreqString(Duration.ofNanos(1500000)) == "1500us")
    assert(Offsets.toFreqString(Duration.ofMillis(1500)) == "1500ms")
    Seq(Duration.ofHours(1), Duration.ofMillis(500), Duration.ofNanos(2500),
      Duration.ofNanos(7)).foreach(d => assert(Offsets.parse(Offsets.toFreqString(d)) == d))
  }
}
