package perfbench

import java.util.regex.Pattern

/** Plain-JVM reimplementation of the reference's pattern extraction
  * (`extract_patterns`, reference `app.py:227-246`), written from the
  * reference's regexes and Python's `re.findall` semantics, not from the
  * library's Spark expressions. It is the oracle the text-ingest workload
  * checks every stored `_extracted_patterns` against.
  *
  * `re.findall` returns the whole match for a pattern without groups and
  * the tuple of groups otherwise. The reference joins the phone tuple with
  * `''.join`, so the phone's uncaptured trailing digits are dropped:
  * `"(555) 123-4567"` yields `"(555) "`. A group that did not participate
  * contributes `""`. The generators emit ASCII only, where Python's
  * Unicode `\d`, `\s` and `\b` agree with Java's.
  */
object Extractor {
  final case class Patterns(emails: Seq[String], phones: Seq[String],
                            dates: Seq[String], numbers: Seq[String])

  val empty: Patterns = Patterns(Nil, Nil, Nil, Nil)

  private val email =
    Pattern.compile("""\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b""")
  private val phone =
    Pattern.compile("""(\+?\d{1,3}[-.\s]?)?(\(?\d{3}\)?[-.\s]?)\d{3}[-.\s]?\d{4}""")
  private val date = Pattern.compile("""\d{1,2}[-/]\d{1,2}[-/]\d{2,4}""")
  private val number = Pattern.compile("""-?\d+\.?\d*""")

  private def findAll(p: Pattern, text: String): Seq[String] = {
    val m = p.matcher(text)
    val out = Seq.newBuilder[String]
    while (m.find()) {
      out += (if (m.groupCount == 0) m.group()
              else (1 to m.groupCount).map(g => Option(m.group(g)).getOrElse("")).mkString)
    }
    out.result()
  }

  /** Patterns of one record's `content`; empty lists when the content is
    * missing or empty (reference `app.py:229-233` and `app.py:318-322`). */
  def extract(content: Option[String]): Patterns = content match {
    case Some(t) if t.nonEmpty =>
      Patterns(findAll(email, t), findAll(phone, t), findAll(date, t), findAll(number, t))
    case _ => empty
  }
}
