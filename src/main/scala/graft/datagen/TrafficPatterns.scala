package graft.datagen

/** Traffic-pattern spec parser + piecewise rate function (reference:
  * internal/pipeline/traffic_pattern.go:26-130, table-tested at
  * traffic_pattern_test.go:9-172).
  *
  * Format: `"start-end:rate%,start-end:rate%"`, e.g. `"30s-60s:300%"`;
  * durations are Go-style (`30s`, `1m30s`, `500ms`, `1.5h`). Overlap
  * validation checks adjacent pairs in input order, exactly like the
  * reference. `rateAt` is the piecewise-constant rate; [[rowsBetween]] is
  * the round-2 addition the Spark governor uses: the exact integral over
  * a window, so budgets of adjacent windows sum to the exact total instead
  * of accumulating ticker drift (SURVEY.md §7.4 risk 5).
  */
final case class TrafficPattern(startMs: Long, endMs: Long, multiplier: Double)

final case class TrafficPatterns(baseRate: Int, patterns: Seq[TrafficPattern]) {

  /** Messages/second at `elapsed` ms (reference GetRateAt). */
  def rateAt(elapsedMs: Long): Int =
    patterns.find(p => elapsedMs >= p.startMs && elapsedMs < p.endMs)
      .map(p => (baseRate * p.multiplier).toInt)
      .getOrElse(baseRate)

  /** Cumulative rows from 0 to `t` ms (piecewise integral, fractional). */
  private def cumulative(tMs: Long): Double = {
    // base contribution over [0, t) plus the extra (multiplier-1) inside patterns
    val base = baseRate * (tMs / 1000.0)
    val extra = patterns.iterator.map { p =>
      val overlap = math.max(0L, math.min(tMs, p.endMs) - p.startMs)
      baseRate * (p.multiplier - 1.0) * (overlap / 1000.0)
    }.sum
    base + extra
  }

  /** Exact row budget for the window [t0, t1) ms: budgets over adjacent
    * windows telescope, so their sum is always floor(cumulative(total)). */
  def rowsBetween(t0Ms: Long, t1Ms: Long): Long =
    math.floor(cumulative(t1Ms)).toLong - math.floor(cumulative(t0Ms)).toLong
}

object TrafficPatterns {

  /** Parse (reference ParseTrafficPattern). Throws IllegalArgumentException
    * with reference-shaped messages on malformed input. */
  def parse(spec: String, baseRate: Int): TrafficPatterns = {
    if (spec == null || spec.trim.isEmpty) return TrafficPatterns(baseRate, Seq.empty)
    val patterns = spec.split(",").iterator.map(_.trim).filter(_.nonEmpty).map { part =>
      val colonParts = part.split(":")
      if (colonParts.length != 2)
        fail(s"invalid pattern format '$part': expected 'start-end:rate%'")
      val timeRange = colonParts(0).trim
      val rateStr = colonParts(1).trim
      val dashParts = timeRange.split("-")
      if (dashParts.length != 2)
        fail(s"invalid time range '$timeRange': expected 'start-end'")
      val start = parseDurationMs(dashParts(0).trim)
        .getOrElse(fail(s"invalid start time '${dashParts(0)}'"))
      val end = parseDurationMs(dashParts(1).trim)
        .getOrElse(fail(s"invalid end time '${dashParts(1)}'"))
      if (end <= start)
        fail(s"end time '${dashParts(1)}' must be after start time '${dashParts(0)}'")
      if (!rateStr.endsWith("%"))
        fail(s"invalid rate format '$rateStr': expected percentage (e.g., '300%')")
      val rate = try rateStr.stripSuffix("%").toDouble
        catch { case _: NumberFormatException => fail(s"invalid rate value '$rateStr'") }
      if (rate <= 0) fail(s"rate value must be positive, got '$rateStr'")
      TrafficPattern(start, end, rate / 100.0)
    }.toSeq
    // adjacent-pair overlap check, input order (reference validatePatterns)
    patterns.sliding(2).foreach {
      case Seq(a, b) if a.endMs > b.startMs =>
        fail(s"traffic patterns overlap: pattern ending at ${a.endMs}ms conflicts with pattern starting at ${b.startMs}ms")
      case _ => ()
    }
    TrafficPatterns(baseRate, patterns)
  }

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

  /** Go-style duration: decimal value + unit segments, e.g. `1m30s`,
    * `1.5h`, `500ms`. Returns milliseconds. */
  private[datagen] def parseDurationMs(s: String): Option[Long] = {
    if (s.isEmpty) return None
    val re = """(\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h)""".r
    val matches = re.findAllMatchIn(s).toSeq
    if (matches.isEmpty || matches.map(_.matched).mkString != s) return None
    val unitMs = Map("ns" -> 1e-6, "us" -> 1e-3, "µs" -> 1e-3, "ms" -> 1.0,
      "s" -> 1000.0, "m" -> 60000.0, "h" -> 3600000.0)
    Some(matches.map(m => m.group(1).toDouble * unitMs(m.group(2))).sum.round)
  }
}
