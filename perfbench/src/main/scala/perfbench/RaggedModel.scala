package perfbench

/** What schema-on-read ingest must produce for a sequence of ragged JSON
  * batches, computed from the generated key sets alone: the reference's
  * genson union/intersection (`app.py:250-263`), its version trigger on a
  * changed field-name set (`app.py:335-350`) with the change-log diff
  * (`app.py:112-116`), and per-record issues in the order `ops.Validate`
  * documents: record keys absent from the schema first (in record order,
  * each once), then schema properties absent from the record (sorted).
  */
object RaggedModel {
  final case class Expected(properties: Set[String], required: Seq[String],
                            version: Int,
                            change: Option[(Seq[String], Seq[String])])

  def issues(recordKeys: Seq[String], schemaFields: Set[String]): Seq[String] = {
    val present = recordKeys.toSet
    recordKeys.distinct.filterNot(schemaFields).map(k => s"Field '$k' not in schema") ++
      schemaFields.toSeq.sorted.filterNot(present).map(k => s"Missing field: '$k'")
  }

  /** One entry per non-empty batch, in ingest order, into a fresh corpus. */
  def expect(batches: Seq[Seq[Seq[String]]]): Seq[Expected] = {
    var prior: Option[Set[String]] = None
    var version = 0
    batches.map { records =>
      val sets = records.map(_.toSet)
      val union = sets.reduce(_ union _)
      val required = sets.reduce(_ intersect _).toSeq.sorted
      val change = prior match {
        case Some(p) if p != union =>
          version += 1
          Some(((union -- p).toSeq.sorted, (p -- union).toSeq.sorted))
        case Some(_) => None
        case None => version = 1; None
      }
      prior = Some(union)
      Expected(union, required, version, change)
    }
  }
}
