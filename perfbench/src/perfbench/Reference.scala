package perfbench

import scala.collection.mutable

import graft.ops.Cleanse
import graft.text.{EntityRuler, Sentiment}

/** Plain-Scala reference for the pipeline's four outputs, computed
  * row by row from the generated tweets with the engine's scalar
  * contracts (`Matcher.extract`, `Sentiment.scoreText`,
  * `Cleanse.categoryTable`) and none of its Spark code. */
object Reference {

  /** One output: row key → (month tag → cell). */
  type Table = Map[Seq[String], Map[String, Double]]

  final case class Outputs(freq1d: Table, sent1d: Table, sent2d: Table, freq2d: Table) {
    def byName: Seq[(String, Table)] =
      Seq("freq1d" -> freq1d, "sent1d" -> sent1d, "sent2d" -> sent2d, "freq2d" -> freq2d)
  }

  private val MonthIdx = Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul",
    "Aug", "Sep", "Oct", "Nov", "Dec").zipWithIndex.toMap

  /** U1: "Mon dd, yyyy" or short "Mon dd" (year 2020) → (year, month). */
  private def yearMonth(ts: String): (Int, Int) = {
    val m = MonthIdx(ts.take(3)) + 1
    if (ts.length < 8) (2020, m) else (ts.takeRight(4).toInt, m)
  }

  /** U2 + U3: K/M counter → log2 bucket, with the engine's double ops. */
  private[perfbench] def logBucket(s: String): Int = {
    val t = if (s == null) "0" else s.trim
    val v: Double =
      if (t.endsWith("K")) t.dropRight(1).toDouble * 1000
      else if (t.endsWith("M")) t.dropRight(1).toDouble * 1000000
      else t.toDouble
    val x = v.toLong.toInt
    val l = StrictMath.log(x + 1.0) / StrictMath.log(2.0)
    // bround goes through BigDecimal.valueOf (the double's shortest repr)
    java.math.BigDecimal.valueOf(l).setScale(0, java.math.RoundingMode.HALF_EVEN).intValue + 1
  }

  private val KeywordRe = "searchq=(.+) until".r.unanchored

  /** U4 + U5: search URL → category. */
  private def category(url: String): Option[String] =
    url.replace("?", "").replace("%20", " ") match {
      case KeywordRe(kw) =>
        val k = kw.replace(" lang%3Aen", "").trim
        Cleanse.categoryTable.find(_._1 == k).map(_._2)
      case _ => None
    }

  /** Per-tweet enrichment as the pipeline defines it; rows the
    * pipeline drops give None. */
  final case class Row(year: Int, month: Int, cat: String, topics: Array[String],
                       retweetsLog: Int, likesLog: Int, sentiment: Float)

  def enrich(t: TweetGen.Tweet, m: EntityRuler.Matcher): Option[Row] =
    if (t.timestamp == null || t.pageUrl == null) None
    else category(t.pageUrl).flatMap { cat =>
      val topics = m.extract(t.text)
      if (topics.sameElements(Array("empty"))) None
      else {
        val (y, mo) = yearMonth(t.timestamp)
        Some(Row(y, mo, cat, topics, logBucket(t.retweets), logBucket(t.likes),
          Sentiment.scoreText(t.text).toFloat))
      }
    }

  def compute(rows: Seq[Row]): Outputs = {
    val f1 = mutable.HashMap.empty[(Seq[String], String), Long]
    val s1 = mutable.HashMap.empty[(Seq[String], String), (Double, Long)]
    val f2 = mutable.HashMap.empty[(Seq[String], String), Long]
    val s2 = mutable.HashMap.empty[(Seq[String], String), (Double, Long)]
    rows.foreach { r =>
      val ym = s"${r.year}-${r.month}"
      // Σ s·(l+1) in double
      val ws = r.sentiment.toDouble * (r.likesLog + 1)
      def addS(m: mutable.HashMap[(Seq[String], String), (Double, Long)], k: Seq[String]) = {
        val (a, b) = m.getOrElse((k, ym), (0.0, 0L))
        m((k, ym)) = (a + ws, b + r.likesLog)
      }
      r.topics.foreach { t =>
        val k = Seq(t, r.cat)
        f1((k, ym)) = f1.getOrElse((k, ym), 0L) + r.retweetsLog + 1
        addS(s1, k)
      }
      for (i <- r.topics.indices; j <- i + 1 until r.topics.length) {
        val (a, b) = (r.topics(i), r.topics(j))
        f2((Seq(a, b, r.cat), ym)) = f2.getOrElse((Seq(a, b, r.cat), ym), 0L) + r.retweetsLog
        addS(s2, Seq(r.cat, a, b))
      }
    }
    def table[V](m: mutable.HashMap[(Seq[String], String), V])(cell: V => Double): Table =
      m.toSeq.groupBy(_._1._1).map { case (k, cells) =>
        k -> cells.map { case ((_, ym), v) => ym -> cell(v) }.toMap
      }
    val sent: ((Double, Long)) => Double = { case (s, l) => (s / (l + 1)).toFloat.toDouble }
    Outputs(
      freq1d = table(f1)(_.toDouble),
      sent1d = table(s1)(sent),
      sent2d = table(s2)(sent),
      freq2d = table(f2)(v => (v + 1).toDouble))
  }

  /** Columns that key each output, in the pipeline's order. */
  val Keys: Map[String, Seq[String]] = Map(
    "freq1d" -> Seq("Topic", "Category2"),
    "sent1d" -> Seq("Topic", "Category2"),
    "sent2d" -> Seq("Category2", "Topic", "Topic2"),
    "freq2d" -> Seq("Topic", "Topic2", "Category2"))

  /** Parse a Spark CSV output directory (header in every part). */
  def readCsvDir(dir: java.io.File): (Seq[String], Seq[Array[String]]) = {
    val parts = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .sortBy(_.getName)
    var header: Seq[String] = Seq.empty
    val rows = parts.toSeq.flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String])
      if (lines.nonEmpty) header = splitCsv(lines.head).toSeq
      lines.drop(1).filter(_.nonEmpty).map(splitCsv)
    }
    (header, rows)
  }

  private def splitCsv(line: String): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var quoted = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (quoted) {
        if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
        else if (c == '"') quoted = false
        else cur += c
      } else if (c == '"') quoted = true
      else if (c == ',') { out += cur.toString; cur.clear() }
      else cur += c
      i += 1
    }
    out += cur.toString
    out.toArray
  }

  /** Mismatches between one written output and its reference table:
    * frequency cells exactly, sentiment cells within float32 rounding. */
  def check(name: String, dir: java.io.File, months: Seq[String], ref: Table): Seq[String] = {
    val (header, rows) = readCsvDir(dir)
    val keys = Keys(name)
    val prefix = if (name.startsWith("freq")) "Frequency_" else "Sentiment_"
    val expectHeader = keys ++ months.map(prefix + _).sorted :+ "Category1"
    if (header != expectHeader) return Seq(s"$name: header ${header.take(5).mkString(",")}...")
    val errs = mutable.ArrayBuffer.empty[String]
    if (rows.size != ref.size) errs += s"$name: ${rows.size} rows, expected ${ref.size}"
    val monthCols = header.zipWithIndex.filter(_._1.startsWith(prefix))
    rows.foreach { r =>
      val key = r.take(keys.size).toSeq
      ref.get(key) match {
        case None => errs += s"$name: unexpected row ${key.mkString("|")}"
        case Some(cells) =>
          if (r.last != "Beverage") errs += s"$name: Category1 ${r.last}"
          monthCols.foreach { case (c, i) =>
            val want = cells.getOrElse(c.stripPrefix(prefix), 0.0)
            val got = r(i).toDouble
            val ok =
              if (name.startsWith("freq")) got == want
              else {
                val (g, w) = (got.toFloat, want.toFloat)
                math.abs(g - w) <= 2 * math.ulp(math.max(math.abs(g), math.abs(w)))
              }
            if (!ok) errs += s"$name: ${key.mkString("|")} $c = $got, expected $want"
          }
      }
    }
    errs.take(5).toSeq
  }
}
