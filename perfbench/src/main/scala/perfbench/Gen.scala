package perfbench

import scala.util.Random

/** Seeded input generators. Every workload draws all of its inputs from one
  * `Random` in a fixed order on one thread, so the same seed gives the same
  * bytes. Everything generated is ASCII (see [[Extractor]]).
  */
object Gen {

  // ---- scraped text (FIXTURES.md A1) ---------------------------------------

  private val words = Vector(
    "the", "data", "pipeline", "page", "price", "contact", "order", "customer",
    "shipping", "record", "value", "item", "report", "field", "batch", "update",
    "status", "account", "delivery", "invoice", "total", "note", "offer", "store",
    "review", "product", "stock", "support", "hours", "open", "closed", "call",
    "email", "today", "sale", "new", "free", "with", "from", "for", "and", "of",
    // OCR-style noise as it appears in scraped pages
    "scr aped", "l0cation", "inf0rmation", "pr1ce", "c0ntact", "addr ess",
    "0rder", "ship ping", "cust0mer", "rec0rd")
  private val users = Vector("support", "j.doe", "sales_team", "info+news", "a.b-c",
    "noreply", "orders", "m.smith")
  private val domains = Vector("example", "mail-host", "shop.co", "web-store",
    "data.example", "corp")
  private val tlds = Vector("com", "org", "io", "uk", "net")
  private val sqls = Vector("DROP TABLE users;", "SELECT * FROM orders WHERE id = 7;",
    "'; DELETE FROM accounts; --", "INSERT INTO log VALUES (1, 'x');")

  private def pick[T](r: Random, xs: Vector[T]): T = xs(r.nextInt(xs.size))
  private def digits(r: Random, n: Int): String =
    (0 until n).map(_ => ('0' + r.nextInt(10)).toChar).mkString

  private def textToken(r: Random): String = r.nextInt(100) match {
    case x if x < 66 => pick(r, words)
    case x if x < 70 =>
      val u = pick(r, users) + (if (r.nextBoolean()) digits(r, 2) else "")
      s"$u@${pick(r, domains)}.${pick(r, tlds)}"
    case x if x < 75 =>
      val (a, b, c) = (digits(r, 3), digits(r, 3), digits(r, 4))
      r.nextInt(5) match {
        case 0 => s"($a) $b-$c"
        case 1 => s"$a.$b.$c"
        case 2 => s"+1 $a-$b-$c"
        case 3 => s"$a-$b-$c"
        case _ => s"+44 $a $b $c"
      }
    case x if x < 80 =>
      val (d, m, y) = (1 + r.nextInt(28), 1 + r.nextInt(12), 2000 + r.nextInt(30))
      r.nextInt(4) match {
        case 0 => s"$m/$d/$y" // US order
        case 1 => s"$d/$m/$y" // day first: ambiguous for d <= 12
        case 2 => f"$y-$m%02d-$d%02d"
        case _ => f"$d%02d-$m%02d-${y % 100}%02d"
      }
    case x if x < 85 =>
      val (u, c) = (r.nextInt(2000), r.nextInt(100))
      r.nextInt(4) match {
        case 0 => f"$$$u.$c%02d"
        case 1 => f"$u,$c%02d"
        case 2 => f"EUR 1,$u%03d.$c%02d"
        case _ => f"-$u.$c%02d"
      }
    case x if x < 87 => pick(r, sqls)
    case x if x < 89 => s"""{"sku": "A-${r.nextInt(100)}", "qty": ${r.nextInt(9)}}"""
    case x if x < 92 => s"name: ${pick(r, words)}; age: ${18 + r.nextInt(60)}"
    case _ => r.nextInt(100000).toString
  }

  /** One line of scraped text; about one line in 40 is blank (spaces only). */
  def textLine(r: Random): String =
    if (r.nextInt(40) == 0) " " * (1 + r.nextInt(3))
    else (0 until 6 + r.nextInt(18)).map(_ => textToken(r)).mkString(" ")

  // ---- customer CSV (FIXTURES.md A2) ---------------------------------------

  val csvHeader: Seq[String] = Seq("Index", "Customer Id", "First Name", "Last Name",
    "Company", "City", "Country", "Phone 1", "Phone 2", "Email",
    "Subscription Date", "Website")
  private val first = Vector("Sheryl", "Preston", "Roy", "Linda", "Joanna", "Aimee")
  private val last = Vector("Baxter", "Lozano", "Berry", "Dolan", "Bender", "Mckee")
  private val cities = Vector("East Leonard", "East Jimmychester", "Isabelborough",
    "Bensonview", "West Priscilla")
  private val countries = Vector("Chile", "Djibouti", "Antigua and Barbuda",
    "Dominican Republic", "Sri Lanka")

  def csvRow(r: Random, index: Int): Seq[String] = {
    val (f, l) = (pick(r, first), pick(r, last))
    Seq(index.toString, "C" + (0 until 14).map(_ => "0123456789abcdefABCDEF"(r.nextInt(22))).mkString,
      f, l, s"$l Group", pick(r, cities), pick(r, countries),
      s"${digits(r, 3)}.${digits(r, 3)}.${digits(r, 4)}",
      s"${digits(r, 3)}.${digits(r, 3)}.${digits(r, 4)}x${digits(r, 3)}",
      s"${f.toLowerCase}${digits(r, 2)}@${pick(r, domains)}.${pick(r, tlds)}",
      f"${2015 + r.nextInt(10)}-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d",
      s"http://www.${l.toLowerCase}.com/")
  }

  // ---- ragged JSON records -------------------------------------------------

  private val raggedKeys = (0 until 24).map(i => f"k$i%02d").toVector

  /** The optional key set of one drift epoch: 8 of the 24 keys. */
  def epochKeys(r: Random): Seq[String] = r.shuffle(raggedKeys).take(8)

  private def jsonValue(r: Random): String = r.nextInt(6) match {
    case 0 => "\"" + pick(r, words) + "\""
    case 1 => r.nextInt(100000).toString
    case 2 => (r.nextInt(1000000) / 1000.0).toString
    case 3 => r.nextBoolean().toString
    case 4 => "null"
    case _ => s"""{"v": ${r.nextInt(10)}, "tag": "${pick(r, words)}"}"""
  }

  /** One ragged record: the mandatory `rid` and `src`, then each epoch key
    * kept with probability 3/4. Returns (keys in record order, JSON text). */
  def raggedRecord(r: Random, rid: Long, epoch: Seq[String]): (Seq[String], String) = {
    val keys = Seq("rid", "src") ++ epoch.filter(_ => r.nextInt(4) != 0)
    val body = keys.map {
      case "rid" => s""""rid": $rid"""
      case "src" => s""""src": "${pick(r, domains)}""""
      case k => s""""$k": ${jsonValue(r)}"""
    }
    (keys, body.mkString("{", ", ", "}"))
  }

  // ---- multilingual documents for curation ---------------------------------

  val langs: Seq[String] = Seq("de", "en", "es", "fr")
  private val stop = Map(
    "en" -> Vector("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "es" -> Vector("el", "la", "de", "que", "y", "en", "un", "es", "se", "no"),
    "fr" -> Vector("le", "la", "de", "et", "les", "des", "en", "un", "du", "que"),
    "de" -> Vector("der", "die", "und", "in", "den", "von", "zu", "das", "mit", "sich"))

  /** A content vocabulary of pseudo-words per language (drawn from `r`). */
  def vocab(r: Random): Map[String, Vector[String]] = {
    val syl = Vector("ka", "lo", "mi", "ter", "san", "ve", "dor", "ul", "pre", "gin",
      "tas", "ro", "nel", "bu", "fi", "scha", "que", "len", "ar", "ost")
    langs.map(l => l -> Vector.fill(3000)(
      (0 until 2 + r.nextInt(3)).map(_ => pick(r, syl)).mkString)).toMap
  }

  /** A fluent document: 180-240 tokens, about 40% stopwords of its language. */
  def document(r: Random, lang: String, voc: Map[String, Vector[String]]): Vector[String] =
    Vector.fill(180 + r.nextInt(61))(
      if (r.nextInt(10) < 4) pick(r, stop(lang)) else pick(r, voc(lang)))

  /** A near duplicate: one token replaced. */
  def variant(r: Random, doc: Vector[String], lang: String,
              voc: Map[String, Vector[String]]): Vector[String] =
    doc.updated(r.nextInt(doc.size), pick(r, voc(lang)) + "x")

  /** A low-quality document: a short run of symbols and digits. */
  def junk(r: Random): Vector[String] =
    Vector.fill(5 + r.nextInt(8))(r.nextInt(3) match {
      case 0 => "#" * (1 + r.nextInt(4))
      case 1 => digits(r, 1 + r.nextInt(5))
      case _ => Seq("!!!", "$$$", "***", "|", "@@", "%%")(r.nextInt(6))
    })
}
