package graft.perfbench

/** Self-tests of the benchmark's pure helpers. Every run starts with
  * them, so a broken helper stops the run before it reports a number.
  */
object SelfTest {
  private def expect(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(s"perfbench self-test failed: $what")

  def run(): Unit = {
    percentiles()
    lwwOracle()
    generators()
    jsonRoundTrip()
  }

  private def percentiles(): Unit = {
    expect(Stats.tailPerMille(100).contains(900), "100 samples support p90")
    expect(Stats.tailPerMille(99).contains(750), "99 samples do not support p90")
    expect(Stats.tailPerMille(40).contains(750), "40 samples support p75")
    expect(Stats.tailPerMille(39).contains(500), "39 samples fall back to p50")
    expect(Stats.tailPerMille(19).isEmpty, "19 samples support no tail")
    expect(Stats.tailPerMille(1000).contains(990), "1000 samples support p99")
    val xs = (1 to 100).map(_.toDouble).reverse
    expect(Stats.percentile(xs, 900) == 90.0, "p90 of 1..100 is 90")
    expect(Stats.percentile(xs, 750) == 75.0, "p75 of 1..100 is 75")
    expect(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0, "odd median")
    expect(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5, "even median")
    expect(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-12, "geomean")
  }

  private def lwwOracle(): Unit = {
    val events = Seq(
      ("a", 2L, Some("a2")), ("a", 1L, Some("a1")), // out of order: seq 2 wins
      ("b", 5L, None), ("b", 3L, Some("b3")),        // a stale upsert does not resurrect
      ("c", 1L, Some("c1")), ("c", 4L, None), ("c", 6L, Some("c6")),
      ("d", 7L, Some("d7")), ("d", 7L, None),        // a delete wins a tie
      ("e", 1L, Some("e1")), ("e", 1L, Some("e1")))  // duplicates are idempotent
    expect(Oracle.lww(events) == Map("a" -> "a2", "c" -> "c6", "e" -> "e1"),
      s"LWW replay: ${Oracle.lww(events)}")
    val ddb = Gen.ddbEpoch(1L, 0, 0, 50) ++ Gen.ddbEpoch(1L, 1, 200, 50)
    val live = Oracle.ddbLive(ddb)
    val last = ddb.groupBy(_.docId).map { case (k, es) => k -> es.maxBy(_.seq) }
    expect(live == last.collect { case (k, e) if !e.isDelete => k -> e.cls },
      "ddb replay keeps each key's last event")
  }

  private def generators(): Unit = {
    def bytes(seed: Long): String =
      ((0L until 2000L).map(Gen.exportLine(seed, _)) ++
        (0 to 2).flatMap(e => Gen.ddbEpoch(seed, e, 300, 100).map(Gen.ddbLine)) ++
        (0 to 2).flatMap(e => Gen.docEpoch(seed, e, 300, 100).map(Gen.docLine)) ++
        Gen.corpus(seed, 50).map(_.toString) ++
        (0 until 8).flatMap(Serve.bodies(seed, _))).mkString("\n")
    expect(bytes(7L) == bytes(7L), "same seed gives the same bytes")
    expect(bytes(7L) != bytes(8L), "another seed gives other bytes")
    val lines = (0L until 3000L).map(Gen.exportLine(3L, _))
    expect(lines.count(!_.contains("\"PK\"")) == 3, "one DLQ line per 1000 items")
    val epoch = Gen.docEpoch(3L, 1, 2000, 3000)
    val deletes = epoch.count(_.delete)
    expect(deletes > 50 && deletes < 150, s"about 1/20 deletes, got $deletes of 2000")
    expect(Gen.corpus(3L, 3000).map(_.id) == (0L until 3000L), "the corpus holds every id once")
    expect(Gen.docEpoch(3L, 0, 10, 3000).forall(_.seq > 3000), "changes follow the corpus")
  }

  private def jsonRoundTrip(): Unit = {
    val doc = Json.obj(
      "correct" -> Json.Bool(true),
      "attempted" -> Json.Whole(Long.MaxValue),
      "tricky \"key\"" -> Json.Str("quote\" back\\ nl\n tab\t ctl\u0001 é ✓"),
      "metrics" -> Json.obj(
        "a" -> Json.obj("value" -> Json.Num(1.2034), "unit" -> Json.Str("ms")),
        "b" -> Json.obj("value" -> Json.Num(1e-7), "unit" -> Json.Str("1/s")),
        "c" -> Json.obj("value" -> Json.Num(-123456789.125), "unit" -> Json.Str("%"))),
      "nested" -> Json.obj("x" -> Json.Num(0.1), "y" -> Json.Whole(-3), "z" -> Json.obj()))
    val text = Json.render(doc)
    expect(Json.parse(text) == doc, s"JSON round trip of $text")
    expect(!text.contains("\n"), "rendered JSON is one line")
    expect(scala.util.Try(Json.Num(Double.NaN)).isFailure, "NaN is refused")
  }
}
