package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF

import graft.SparkEntry
import graft.functions.NerExtract

/** The benchmark's own tests: generator determinism and branch
  * shares, and the guard that the timed action still computes every
  * output column. Prints one line per check; exits 1 on any failure.
  *
  * Usage: perfbench.SelfTest --bench <dir> */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val res = try ok catch { case e: Throwable => System.err.println(e); false }
    println(s"${if (res) "ok  " else "FAIL"} $name")
    if (!res) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val bench = new java.io.File(args(args.indexOf("--bench") + 1))
    val shapes = Seq("tweets_text" -> TweetGen.TextShape, "tweets_pairs" -> TweetGen.PairsShape)
    def csv(seed: Long, shape: TweetGen.Shape) =
      TweetGen.csv(TweetGen.tweets(seed, shape, TweetGen.dictionary(seed)))

    shapes.foreach { case (w, shape) =>
      check(s"$w: same seed gives byte-identical inputs")(csv(7, shape) == csv(7, shape))
      check(s"$w: another seed gives other inputs")(csv(7, shape) != csv(8, shape))
      val rows = TweetGen.tweets(3, shape, TweetGen.dictionary(3))
      val seen = TweetGen.observedShares(rows)
      TweetGen.Shares.foreach { case (k, want) =>
        // mentions and hashtags only go into tweets that carry entities
        val expect =
          if (k == "mention" || k == "hashtag") want * (1 - TweetGen.Shares("no_entity")) else want
        check(f"$w: branch $k share ${seen(k)}%.4f near $expect%.4f")(
          math.abs(seen(k) - expect) <= 0.02)
      }
      check(s"$w: all 7 keywords appear")(TweetGen.Keywords.forall(k =>
        rows.exists(r => r.pageUrl != null && r.pageUrl.contains("q=" + k.replace(" ", "%20") + "%20"))))
    }

    val dict = TweetGen.dictionary(3)
    TweetGen.LabelCounts.foreach { case (label, n) =>
      check(s"dictionary: $label has $n patterns")(dict.patterns.count(_.label == label) == n)
    }
    check("dictionary: no filler word is a pattern token")(dict.patterns.forall(
      _.toks.forall(t => !TweetGen.Filler.exists(_.equalsIgnoreCase(t.text)))))
    val m = new graft.text.EntityRuler.Matcher(dict.patterns)
    check("dictionary: planted phrases are found as planted")({
      val planted = TweetGen.tweets(3, TweetGen.PairsShape, dict).filter(_.planted > 0)
      val found = planted.map(t =>
        t.planted -> m.extract(t.text).count(x => !x.startsWith("@") && !x.startsWith("#")))
      found.forall(f => f._2 >= 1 && f._2 <= f._1) &&
        found.count(f => f._1 == f._2) >= 0.95 * found.size
    })

    // the timed action consumes every output column: count() lets the
    // optimizer prune the NER / sentiment projections, the digest does not
    val spark = Main.session()
    try {
      val dir = new java.io.File(bench, "data/sf0.01").getPath
      def hasExpr(df: DataFrame, p: Any => Boolean) =
        df.queryExecution.optimizedPlan.collect { case n => n }
          .exists(_.expressions.exists(_.find(p).isDefined))
      val isNer: Any => Boolean = _.isInstanceOf[NerExtract]
      val isUdf: Any => Boolean = _.isInstanceOf[ScalaUDF]
      val q38 = SparkEntry.queries("q38_ner_full_dict")(spark, dir)
      val q31 = SparkEntry.queries("q31_sentiment_docs")(spark, dir)
      check("q38: digest plan keeps NerExtract")(hasExpr(Surface.digest(q38), isNer))
      check("q31: digest plan keeps the sentiment UDF")(hasExpr(Surface.digest(q31), isUdf))
      check("q38: count() plan drops NerExtract (the gap the digest closes)")(
        !hasExpr(q38.groupBy().count(), isNer))
    } finally spark.stop()

    println(if (failures == 0) "selftest passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
