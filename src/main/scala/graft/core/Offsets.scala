package graft.core

import java.time.Duration

/** Pandas-style offset-string parser ("1min", "5min", "1H", "30s", "2D",
  * "15min") -> java.time.Duration. Reference uses pd.Timedelta on these at
  * load_file.py:745,2077,2081,2286,2292. Only fixed-width units appear in the
  * reference (no month/quarter offsets), so Duration suffices.
  */
object Offsets {
  private val Pat = """^\s*(\d+)?\s*([a-zA-Z]+)\s*$""".r

  def parse(offset: String): Duration = {
    offset match {
      case Pat(numStr, unit) =>
        val n = Option(numStr).map(_.toLong).getOrElse(1L)
        unit match {
          case "ns" => Duration.ofNanos(n)
          case "us" | "U" => Duration.ofNanos(n * 1000L)
          case "ms" | "L" => Duration.ofMillis(n)
          case "s" | "S" | "sec" | "second" | "seconds" => Duration.ofSeconds(n)
          case "min" | "T" | "m" | "minute" | "minutes" => Duration.ofMinutes(n)
          case "h" | "H" | "hr" | "hour" | "hours" => Duration.ofHours(n)
          case "d" | "D" | "day" | "days" => Duration.ofDays(n)
          case "w" | "W" | "week" | "weeks" => Duration.ofDays(7L * n)
          case other =>
            throw new ConfigValidationException(s"Unsupported offset unit: '$other' in '$offset'")
        }
      case _ =>
        throw new ConfigValidationException(s"Cannot parse offset string: '$offset'")
    }
  }

  /** Duration -> offset string: "{n}s" for whole seconds, the
    * freq-inference fallback output format (reference load_file.py:2072-2074;
    * pinned "3600s" by its tests); otherwise the coarsest exact "{n}ms",
    * "{n}us" or "{n}ns", so `parse(toFreqString(d)) == d`.
    */
  def toFreqString(d: Duration): String =
    if (d.getNano == 0) s"${d.getSeconds}s"
    else if (d.getNano % 1000000 == 0) s"${toMicros(d) / 1000}ms"
    else if (d.getNano % 1000 == 0) s"${toMicros(d)}us"
    else s"${d.toNanos}ns"

  /** Whole microseconds in `d`, the engine's timestamp resolution. */
  def toMicros(d: Duration): Long = d.getSeconds * 1000000L + d.getNano / 1000

  /** [[toMicros]] of a frequency, which must be at least 1 us. */
  def frequencyMicros(d: Duration): Long = {
    val us = toMicros(d)
    if (us <= 0) throw new ConfigValidationException(s"Frequency must be at least 1us, got $d")
    us
  }

  /** Duration -> Spark interval string in whole microseconds, e.g.
    * "INTERVAL 1500000 MICROSECONDS": the one rendering every `window`,
    * `session_window`, `withWatermark` and interval `expr` takes, so no
    * caller truncates a sub-second duration.
    */
  def toSparkInterval(d: Duration): String = s"INTERVAL ${toMicros(d)} MICROSECONDS"
}
