package perfbench

/** Property checker for one `Curate.curateCorpus` result against what the
  * generator planted. Every rule is recomputed on the driver from the
  * generated documents; the program contributes only the id sets it
  * produced (after the gate, after dedup, and the final kept set).
  *
  * Rules:
  *  - every planted low-quality document is dropped by the gate;
  *  - every document dedup dropped is a non-minimum member of a planted
  *    cluster (no false merges);
  *  - at least `minCollapse` of the planted clusters collapse to exactly
  *    their min-id member;
  *  - per language, the kept set is the prefix of the dedup survivors in
  *    (md5(id), id) order whose running token count stays within budget,
  *    with token counts taken from the generated text.
  */
object CurateCheck {
  final case class Planted(tokens: Map[Long, Int], lang: Map[Long, String],
                           clusters: Seq[Seq[Long]], lowQuality: Set[Long])

  val minCollapse = 0.99

  def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  /** The kept ids of one language: survivors in (md5(id), id) order, cut
    * where the inclusive running token sum first exceeds `budget`. */
  def budgetPrefix(survivors: Seq[Long], tokens: Long => Int, budget: Long): Set[Long] = {
    val ordered = survivors.map(id => (md5Hex(id.toString), id)).sorted.map(_._2)
    val cum = ordered.scanLeft(0L)(_ + tokens(_)).tail
    ordered.zip(cum).takeWhile(_._2 <= budget).map(_._1).toSet
  }

  /** Failures, empty when the result satisfies every rule. */
  def check(p: Planted, gated: Set[Long], survivors: Set[Long],
            kept: Set[Long], budget: Long): Seq[String] = {
    val fails = Seq.newBuilder[String]
    val lowKept = p.lowQuality.intersect(gated)
    if (lowKept.nonEmpty)
      fails += s"${lowKept.size} planted low-quality docs passed the gate, e.g. ${lowKept.min}"
    val nonMin = p.clusters.flatMap(c => c.filterNot(_ == c.min)).toSet
    val falseDrops = (gated -- survivors) -- nonMin
    if (falseDrops.nonEmpty)
      fails += s"${falseDrops.size} docs dropped as near-dups outside a planted cluster's " +
        s"non-min members, e.g. ${falseDrops.min}"
    val collapsed = p.clusters.count(c => c.filter(survivors).toSet == Set(c.min))
    if (p.clusters.nonEmpty && collapsed < minCollapse * p.clusters.size)
      fails += s"only $collapsed of ${p.clusters.size} planted clusters collapsed to their min id"
    if (!kept.subsetOf(survivors))
      fails += s"${(kept -- survivors).size} kept docs are not dedup survivors"
    survivors.groupBy(p.lang).foreach { case (lang, ids) =>
      val expected = budgetPrefix(ids.toSeq, p.tokens, budget)
      val actual = kept.filter(id => p.lang(id) == lang)
      if (expected != actual)
        fails += s"lang $lang: kept ${actual.size} docs, budget prefix has ${expected.size} " +
          s"(${(actual -- expected).size} extra, ${(expected -- actual).size} missing)"
    }
    fails.result()
  }
}
