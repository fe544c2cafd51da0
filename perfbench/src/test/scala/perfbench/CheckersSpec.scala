package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own oracles, pinned on known answers. */
class CheckersSpec extends AnyFunSuite {

  test("extractor: FIXTURES.md A1 goldens, including the phone group-join quirk") {
    val p = Extractor.extract(Some("call (555) 123-4567 before 12/13/2025"))
    assert(p.phones == Seq("(555) "))
    assert(p.dates == Seq("12/13/2025"))
    assert(p.numbers == Seq("555", "123", "-4567", "12", "13", "2025"))
    assert(Extractor.extract(Some("12/13/2025")).numbers == Seq("12", "13", "2025"))
    assert(Extractor.extract(Some("+1 800-555-1234")).phones == Seq("+1 800-"))
    assert(Extractor.extract(Some("mail support@example.com now")).emails ==
      Seq("support@example.com"))
  }

  test("extractor: missing or empty content gives empty lists") {
    assert(Extractor.extract(None) == Extractor.empty)
    assert(Extractor.extract(Some("")) == Extractor.empty)
    assert(Extractor.extract(Some("no patterns here")) == Extractor.empty)
  }

  test("ragged model: the three-record example of PipelineSpec") {
    val batch = Seq(Seq("a", "b"), Seq("a"), Seq("a", "z"))
    val Seq(e) = RaggedModel.expect(Seq(batch))
    assert(e.properties == Set("a", "b", "z"))
    assert(e.required == Seq("a"))
    assert(e.version == 1 && e.change.isEmpty)
    assert(batch.map(RaggedModel.issues(_, e.properties)) == Seq(
      Seq("Missing field: 'z'"),
      Seq("Missing field: 'b'", "Missing field: 'z'"),
      Seq("Missing field: 'b'")))
  }

  test("ragged model: versions bump only where the union changes") {
    val es = RaggedModel.expect(Seq(
      Seq(Seq("a", "b")), Seq(Seq("b", "a")), Seq(Seq("a"), Seq("c")), Seq(Seq("a", "c"))))
    assert(es.map(_.version) == Seq(1, 1, 2, 2))
    assert(es.map(_.change) == Seq(None, None, Some((Seq("c"), Seq("b"))), None))
    assert(es(2).required.isEmpty)
  }

  test("ragged model: keys outside the schema come first, in record order, once") {
    assert(RaggedModel.issues(Seq("y", "a", "x", "y"), Set("a", "c", "b")) == Seq(
      "Field 'y' not in schema", "Field 'x' not in schema",
      "Missing field: 'b'", "Missing field: 'c'"))
  }

  // md5("4") = a87f…, md5("1") = c4ca…, md5("2") = c81e…, md5("3") = eccb…
  test("curate check: the budget prefix follows md5(id) order") {
    assert(CurateCheck.md5Hex("1") == "c4ca4238a0b923820dcc509a6f75849b")
    assert(CurateCheck.budgetPrefix(Seq(1L, 2L, 3L, 4L), _ => 10, 25) == Set(4L, 1L))
    assert(CurateCheck.budgetPrefix(Seq(1L, 2L, 3L, 4L), _ => 10, 40) == Set(1L, 2L, 3L, 4L))
    assert(CurateCheck.budgetPrefix(Seq(1L, 2L, 3L, 4L), _ => 10, 9).isEmpty)
  }

  private val planted = CurateCheck.Planted(
    tokens = (1L to 8L).map(_ -> 10).toMap,
    lang = (1L to 8L).map(id => id -> (if (id <= 6) "en" else "de")).toMap,
    clusters = Seq(Seq(2L, 5L), Seq(3L, 6L)),
    lowQuality = Set(8L))
  private val gated = (1L to 7L).toSet
  private val survivors = Set(1L, 2L, 3L, 4L, 7L)
  private def kept(budget: Long) =
    CurateCheck.budgetPrefix(Seq(1L, 2L, 3L, 4L), planted.tokens, budget) + 7L

  test("curate check: a correct result passes") {
    assert(CurateCheck.check(planted, gated, survivors, kept(25), 25).isEmpty)
  }

  test("curate check: each rule catches its violation") {
    def fails(g: Set[Long], s: Set[Long], k: Set[Long]) =
      CurateCheck.check(planted, g, s, k, 25)
    assert(fails(gated + 8L, survivors + 8L, kept(25)).exists(_.contains("low-quality")))
    assert(fails(gated, survivors - 4L, kept(25) - 4L).exists(_.contains("outside a planted")))
    assert(fails(gated, survivors + 5L, kept(25)).exists(_.contains("clusters collapsed")))
    assert(fails(gated, survivors, kept(35)).exists(_.contains("lang en")))
    assert(fails(gated, survivors, kept(25) + 6L).exists(_.contains("not dedup survivors")))
  }
}
