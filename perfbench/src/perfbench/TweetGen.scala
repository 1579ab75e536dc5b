package perfbench

import graft.text.EntityRuler.{ExactTok, LowerTok, Pattern}

/** Seeded generator of the pipeline's inputs: a synthetic EntityRuler
  * dictionary in the reference's label mix and a raw tweet CSV in the
  * reference's input format. The same seed gives byte-identical
  * outputs; nothing else (time, locale, hash order) feeds in.
  *
  * Planted phrases are always separated by filler tokens, and filler
  * words are never pattern tokens, so no match spans two plants. */
object TweetGen {

  /** One workload's input shape, and the wall of one pass on a 4-core
    * host (it sizes the number of passes in a traced run). */
  final case class Shape(tweets: Int, filler: Int, phrases: Int, passS: Double)

  /** `tweets_text`: long texts, few entities — NER and sentiment dominate. */
  val TextShape = Shape(tweets = 4000, filler = 30, phrases = 2, passS = 6)
  /** `tweets_pairs`: short, topic-dense texts — pairs and pivots dominate. */
  val PairsShape = Shape(tweets = 1000, filler = 4, phrases = 10, passS = 6)

  /** Dictionary label mix (reference patterns.jsonl: Brand 12,902,
    * Ingredient 12,058, Motivation 494). */
  val LabelCounts: Seq[(String, Int)] =
    Seq("Brand" -> 12900, "Ingredient" -> 12050, "Motivation" -> 500)

  /** Recorded share of each input branch (FIXTURES.md §1). Counter
    * shares apply to each of Comments, Likes and Retweets. */
  val Shares: Map[String, Double] = Map(
    "ts_null" -> 0.04, "ts_short" -> 0.12, "url_null" -> 0.04,
    "count_null" -> 0.05, "count_k" -> 0.15, "count_m" -> 0.03,
    "mention" -> 0.20, "hashtag" -> 0.15, "no_entity" -> 0.08)

  /** The seven scrape keywords of the live category map. */
  val Keywords: Seq[String] = graft.ops.Cleanse.categoryTable.map(_._1)

  /** Every pivot month the generator can produce: long timestamps in
    * 2018–2019, short ones imply 2020. */
  val Months: Seq[String] =
    for (y <- 2018 to 2020; m <- 1 to 12) yield s"$y-$m"

  private val MonthNames = Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")

  /** Neutral filler plus lexicon words (so sentiment has hits),
    * negators and intensifiers (so its modifier window is exercised). */
  val Filler: IndexedSeq[String] = {
    val neutral = Seq("the", "a", "we", "had", "this", "today", "with",
      "my", "for", "and", "at", "lunch", "after", "work", "weekend", "glass",
      "bottle", "store", "morning", "friends", "again", "just", "tried",
      "new", "some", "was", "is", "it", "our", "on", "in", "got", "from",
      "kitchen", "recipe", "summer", "party", "dinner", "table", "cold")
    val lex = graft.text.Sentiment.lexicon.keys.toSeq.sorted
      .filter(_.forall(_.isLetter)).take(60)
    val mods = Seq("not", "never", "very", "really", "so", "too")
    (neutral ++ lex ++ mods).distinct.toIndexedSeq
  }

  private val Syllables = IndexedSeq("ka", "zo", "ri", "vu", "pe", "qua",
    "lim", "dor", "xe", "bru", "tan", "gli", "mop", "sva", "yel", "fin",
    "wok", "jhe", "nuz", "cro")

  final case class Dict(patterns: Vector[Pattern], surfaces: Vector[(String, Pattern)])

  /** ~25k patterns: exact-case one- or two-token brands, LOWER
    * one- to three-token ingredients and motivations. Brand words and
    * ingredient/motivation words come from disjoint vocabularies, every
    * token sequence is unique, and about half the patterns carry an id. */
  def dictionary(seed: Long): Dict = {
    val rnd = new java.util.SplittableRandom(seed * 31 + 7)
    val fillerLower = Filler.map(_.toLowerCase).toSet
    val used = scala.collection.mutable.HashSet.empty[String]
    def word(tag: String): String = {
      var w = ""
      while (w.isEmpty || used(w) || fillerLower(w)) {
        val n = 2 + rnd.nextInt(2)
        w = tag + (0 until n).map(_ => Syllables(rnd.nextInt(Syllables.size))).mkString
      }
      used += w
      w
    }
    // small per-label vocabularies, combined into multi-token phrases
    val brandWords = Vector.fill(4000)(word("b").capitalize)
    val lowerWords = Vector.fill(4000)(word("i"))
    val motivWords = Vector.fill(300)(word("m"))
    val seen = scala.collection.mutable.HashSet.empty[String]
    val out = Vector.newBuilder[Pattern]
    LabelCounts.foreach { case (label, count) =>
      var made = 0
      while (made < count) {
        val (vocab, maxLen) = label match {
          case "Brand" => (brandWords, 2)
          case "Ingredient" => (lowerWords, 3)
          case _ => (motivWords, 2)
        }
        val toks = Vector.fill(1 + rnd.nextInt(maxLen))(vocab(rnd.nextInt(vocab.size)))
        val key = label + ":" + toks.mkString(" ").toLowerCase
        if (!seen(key)) {
          seen += key
          val id = if (rnd.nextBoolean()) Some(toks.mkString("_").toLowerCase) else None
          val pat =
            if (label == "Brand") Pattern(label, toks.map(ExactTok), id)
            else Pattern(label, toks.map(LowerTok), id)
          out += pat
          made += 1
        }
      }
    }
    val pats = out.result()
    Dict(pats, pats.map(p => p.toks.map(_.text).mkString(" ") -> p))
  }

  /** One raw tweet; nullable fields are `null`. `planted` counts the
    * dictionary phrases put into `text` and is not part of the CSV. */
  final case class Tweet(timestamp: String, text: String, pageUrl: String,
                         comments: String, likes: String, retweets: String,
                         planted: Int)

  def tweets(seed: Long, shape: Shape, dict: Dict): Vector[Tweet] = {
    val rnd = new java.util.SplittableRandom(seed * 131 + 17)
    def chance(key: String) = rnd.nextDouble() < Shares(key)
    def pick[T](xs: IndexedSeq[T]) = xs(rnd.nextInt(xs.size))
    def count(): String = {
      val u = rnd.nextDouble()
      val (pn, pk, pm) = (Shares("count_null"), Shares("count_k"), Shares("count_m"))
      if (u < pn) null
      else if (u < pn + pk) s"${1 + rnd.nextInt(9)}.${rnd.nextInt(10)}K"
      else if (u < pn + pk + pm) s"${1 + rnd.nextInt(3)}M"
      else (rnd.nextInt(30) * rnd.nextInt(30)).toString
    }
    def plant(): String = {
      val (surface, p) = pick(dict.surfaces)
      p.toks.head match {
        // LOWER patterns match any case: vary it
        case _: LowerTok => rnd.nextInt(3) match {
          case 0 => surface
          case 1 => surface.split(' ').map(_.capitalize).mkString(" ")
          case _ => surface.toUpperCase
        }
        case _ => surface
      }
    }
    Vector.fill(shape.tweets) {
      val ts = {
        val mon = pick(MonthNames.toIndexedSeq)
        val day = 1 + rnd.nextInt(28)
        val u = rnd.nextDouble()
        if (u < Shares("ts_null")) null
        else if (u < Shares("ts_null") + Shares("ts_short")) f"$mon $day%02d"
        else f"$mon $day%02d, ${2018 + rnd.nextInt(2)}"
      }
      val plants = if (chance("no_entity")) 0 else shape.phrases
      // filler and plants in seeded order; "/" separates adjacent plants
      val units = Array.fill(shape.filler)(false -> pick(Filler)) ++
        Array.fill(plants)(true -> plant())
      for (i <- units.indices.reverse) {
        val j = rnd.nextInt(i + 1)
        val t = units(i); units(i) = units(j); units(j) = t
      }
      val words = Vector.newBuilder[String]
      units.indices.foreach { i =>
        if (i > 0 && units(i)._1 && units(i - 1)._1) words += "/"
        words += units(i)._2
      }
      if (plants > 0 && chance("mention")) words += s"@user${rnd.nextInt(500)}"
      if (plants > 0 && chance("hashtag")) words ++= Seq("#", pick(Filler))
      if (rnd.nextInt(4) == 0) words += "!"
      val url =
        if (chance("url_null")) null
        else {
          val kw = pick(Keywords.toIndexedSeq).replace(" ", "%20")
          s"https://twitter.com/search?q=$kw%20lang%3Aen%20until%3A2020-01-01&src=typed_query"
        }
      Tweet(ts, words.result().mkString(" "), url, count(), count(), count(), plants)
    }
  }

  val Header = "Timestamp,Text,Page_URL,Comments,Likes,Retweets"

  /** Reference CSV encoding: null → empty field, quote only when needed. */
  def csv(rows: Seq[Tweet]): String = {
    def f(s: String) =
      if (s == null) ""
      else if (s.exists(c => c == ',' || c == '"')) "\"" + s.replace("\"", "\"\"") + "\""
      else s
    val sb = new StringBuilder(Header).append('\n')
    rows.foreach { t =>
      sb.append(Seq(t.timestamp, t.text, t.pageUrl, t.comments, t.likes, t.retweets)
        .map(f).mkString(",")).append('\n')
    }
    sb.toString
  }

  /** Observed share of each branch in `rows`, keyed like [[Shares]]. */
  def observedShares(rows: Seq[Tweet]): Map[String, Double] = {
    val n = rows.size.toDouble
    def share(p: Tweet => Boolean) = rows.count(p) / n
    def countShare(p: String => Boolean) =
      rows.map(t => Seq(t.comments, t.likes, t.retweets).count(p)).sum / (3 * n)
    Map(
      "ts_null" -> share(_.timestamp == null),
      "ts_short" -> share(t => t.timestamp != null && !t.timestamp.contains(",")),
      "url_null" -> share(_.pageUrl == null),
      "count_null" -> countShare(_ == null),
      "count_k" -> countShare(c => c != null && c.endsWith("K")),
      "count_m" -> countShare(c => c != null && c.endsWith("M")),
      "mention" -> share(_.text.contains("@user")),
      "hashtag" -> share(_.text.contains("# ")),
      "no_entity" -> share(_.planted == 0))
  }
}
