package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.io.Sinks
import graft.ops.{Cleanse, Pairs}
import graft.pipeline.TweetPipeline
import graft.text.{EntityRuler, Sentiment, Tokenizer}

import Main.{Metric, Result, median, secs}

/** The paper's pipeline over generated tweets: CSV in
  * (`Sinks.readCsv`), `TweetPipeline.run` with the sample cap lifted,
  * four CSVs out (`Sinks.writeCsv`). Every pass is checked against
  * the plain-Scala [[Reference]]. */
object Tweets {

  private val Outputs = Seq("freq1d", "sent1d", "sent2d", "freq2d")

  final case class Inputs(rows: Vector[TweetGen.Tweet], matcher: EntityRuler.Matcher,
                          csv: String, matcherMs: Double)

  /** Generate the dictionary, build the matcher, generate the tweets
    * and write them as the input CSV. */
  def setUp(o: Main.Opts, shape: TweetGen.Shape, csv: java.io.File): Inputs = {
    val t0 = System.nanoTime()
    val dict = TweetGen.dictionary(o.seed)
    val tm = System.nanoTime()
    val matcher = new EntityRuler.Matcher(dict.patterns)
    val matcherMs = secs(tm) * 1e3
    val tg = System.nanoTime()
    val rows = TweetGen.tweets(o.seed, shape, dict)
    csv.getParentFile.mkdirs()
    java.nio.file.Files.write(csv.toPath, TweetGen.csv(rows).getBytes("UTF-8"))
    System.err.println(f"[perfbench] dictionary ${(tm - t0) / 1e9}%.2f s, matcher ${matcherMs / 1e3}%.2f s, " +
      f"tweets and CSV ${secs(tg)}%.2f s")
    Inputs(rows, matcher, csv.getAbsolutePath, matcherMs)
  }

  /** One untraced pass; returns the wall of each output write (the
    * first also computes the cached enrichment) and the pipeline's
    * `release`, left to the caller so that the held cache can be
    * measured outside the timed region. */
  def pass(spark: SparkSession, in: Inputs, n: Int, out: java.io.File): (Seq[Double], () => Unit) = {
    val raw = Sinks.readCsv(spark, in.csv)
    val o = TweetPipeline.run(raw, in.matcher, sampleN = n, months = TweetGen.Months)
    val walls = Seq(o.freq1d, o.sent1d, o.sent2d, o.freq2d).zip(Outputs).map { case (df, name) =>
      val t = System.nanoTime()
      Sinks.writeCsv(df, new java.io.File(out, name).getPath)
      secs(t)
    }
    (walls, o.release)
  }

  private def materialize(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  /** The first steps of `TweetPipeline.enrich`, up to its NER column:
    * sampling and cleansing. */
  private def cleansePrefix(raw: DataFrame, n: Int): DataFrame = raw
    .filter(col("Timestamp").isNotNull)
    .orderBy(rand(42L))                       // the pipeline's default seed
    .limit(n)
    .withColumn("TweetDate", Cleanse.parseTweetDate(col("Timestamp")))
    .filter(col("TweetDate").isNotNull)
    .withColumn("Year", year(col("TweetDate")))
    .withColumn("Month", month(col("TweetDate")))
    .na.fill("0", Seq("Comments", "Likes", "Retweets"))
    .withColumn("Comments_log", Cleanse.logBucket(Cleanse.parseKmNumber(col("Comments"))))
    .withColumn("Likes_log", Cleanse.logBucket(Cleanse.parseKmNumber(col("Likes"))))
    .withColumn("Retweets_log", Cleanse.logBucket(Cleanse.parseKmNumber(col("Retweets"))))
    .filter(col("Page_URL").isNotNull)
    .withColumn("Keyword", Cleanse.extractKeyword(col("Page_URL")))
    .filter(col("Keyword").isNotNull)
    .withColumn("Category2", Cleanse.categoryFor(col("Keyword")))

  /** The next steps of `TweetPipeline.enrich`: NER and the empty filter. */
  private def nerPrefix(cleansed: DataFrame, m: EntityRuler.Matcher): DataFrame = cleansed
    .withColumn("All_phrases", EntityRuler.nerColumn(m)(col("Text")))
    .filter(col("All_phrases").isNotNull)
    .withColumn("CheckEmpty", Cleanse.checkEmpty(col("All_phrases")))
    .filter(col("CheckEmpty") =!= 1)

  /** The pair input `TweetPipeline.run` builds from its enriched frame. */
  private def pairs(enriched: DataFrame): DataFrame = Pairs.explodePairs(
    enriched.select(col("Year"), col("Month"), col("Category2"),
      col("All_phrases"), col("Retweets_log"), col("Likes_log"), col("Sentiment")),
    "All_phrases", "Topic", "Topic2")

  /** The cache entry a persisted frame was stored into. */
  private def cacheOf(df: DataFrame): Option[InMemoryRelation] =
    Some(df.queryExecution.withCachedData).collect { case r: InMemoryRelation => r }

  /** Whether `df` reads the cache that `cached` was stored into: its
    * plan with caches substituted or, when `df` is cached itself, the
    * physical plan it was cached from. */
  private def reads(df: DataFrame, cached: DataFrame): Boolean = cacheOf(cached).exists { c =>
    cacheOf(df) match {
      case Some(r) => PlanWalk.collect(r.cacheBuilder.cachedPlan) {
        case s: InMemoryTableScanExec => s.relation.cacheBuilder
      }.exists(_ eq c.cacheBuilder)
      case None => df.queryExecution.withCachedData.exists {
        case r: InMemoryRelation => r.cacheBuilder eq c.cacheBuilder
        case _ => false
      }
    }
  }

  /** Walks physical plans through adaptive-execution nodes. */
  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** One traced pass over the program's own frames, one layer span per
    * materialization. The enrich span materializes `TweetPipeline.enrich`
    * on top of cached copies of its first steps (cleanse, then NER);
    * `TweetPipeline.run`, built next with the same arguments, reuses that
    * cache for its four outputs, and its pair step reuses a cached copy.
    * Spark substitutes a cache only for an identical plan, so the pass
    * checks that the program's frames read each copy and reports a copy
    * that has drifted from the program. The aggregate spans compute the
    * outputs; the write span writes them. Returns the decomposition
    * errors. */
  def tracedPass(spark: SparkSession, tr: Tracer, in: Inputs, n: Int, out: java.io.File): Seq[String] = {
    val (raw, rowsIn) = tr.span("io.Sinks.read")(materialize(Sinks.readCsv(spark, in.csv)))
    tr.count("io.Sinks.rows_read", rowsIn)
    val (cleansed, named, enriched) = tr.span("pipeline.TweetPipeline.enrich") {
      val (cleansed, kept) = tr.span("ops.Cleanse")(materialize(cleansePrefix(raw, n)))
      tr.count("ops.Cleanse.keep_frac", kept.toDouble / rowsIn)
      val (named, nonEmpty) = tr.span("text.EntityRuler")(materialize(nerPrefix(cleansed, in.matcher)))
      tr.count("text.EntityRuler.empty_frac", 1 - nonEmpty.toDouble / kept)
      val (enriched, _) = tr.span("text.Sentiment")(materialize(
        TweetPipeline.enrich(raw, in.matcher, sampleN = n)))
      (cleansed, named, enriched)
    }
    val enrichCopied = reads(enriched, named)
    val o = tr.span("pipeline.TweetPipeline.construct") {
      TweetPipeline.run(raw, in.matcher, sampleN = n, months = TweetGen.Months)
    }
    tr.count("pipeline.TweetPipeline.cache_bytes",
      cacheOf(enriched).map(_.cacheBuilder.sizeInBytesStats.value.toDouble).getOrElse(0.0))
    val (paired, pairRows) = tr.span("ops.Pairs")(materialize(pairs(enriched)))
    tr.count("ops.Pairs.rows", pairRows)
    val outputs = Seq(o.freq1d, o.sent1d, o.sent2d, o.freq2d)
    val errors = Seq(
      "the cleanse and NER copies" -> enrichCopied,
      "TweetPipeline.enrich" -> Seq(o.freq1d, o.sent1d).forall(reads(_, enriched)),
      "the pair copy" -> Seq(o.sent2d, o.freq2d).forall(reads(_, paired))
    ).collect { case (what, false) => s"traced pass: $what did not match TweetPipeline.run's plan" }
    val outs = tr.span("ops.Aggregates") {
      outputs.zip(Outputs).map { case (df, name) =>
        tr.span(s"ops.Aggregates.$name")(materialize(df))
      }
    }
    tr.count("ops.Aggregates.output_rows", outs.map(_._2).sum.toDouble)
    tr.span("io.Sinks.write") {
      outs.zip(Outputs).foreach { case ((df, _), name) =>
        Sinks.writeCsv(df, new java.io.File(out, name).getPath)
      }
    }
    // the program's frames stay cached until the outputs are computed:
    // Spark rebuilds a cache that depends on one being dropped
    (outs.map(_._1) ++ Seq(paired, raw, cleansed, named)).foreach(_.unpersist(true))
    o.release()
    errors
  }

  /** Mismatches of one pass's four written outputs against the reference. */
  def check(out: java.io.File, ref: Reference.Outputs): Seq[String] =
    ref.byName.flatMap { case (name, table) =>
      Reference.check(name, new java.io.File(out, name), TweetGen.Months, table)
    }

  def run(spark: SparkSession, o: Main.Opts, shape: TweetGen.Shape, readyS: Double): Result = {
    // set-up: dictionary, matcher, tweets, input CSVs, then one warm-up
    // pass over the first quarter of the tweets (checked, not timed)
    val ts = System.nanoTime()
    val in = setUp(o, shape, new java.io.File(o.work, "input.csv"))
    val n = in.rows.size
    // the warm-up's cost is mostly fixed (code generation, class
    // loading), so a quarter of the tweets does most of it at a
    // fraction of the set-up time; the first measured passes still
    // run a few percent slower, which the median absorbs
    val warmCsv = new java.io.File(o.work, "warm-up.csv")
    val warmIn = in.copy(rows = in.rows.take(n / 4), csv = warmCsv.getAbsolutePath)
    java.nio.file.Files.write(warmCsv.toPath, TweetGen.csv(warmIn.rows).getBytes("UTF-8"))
    val warmOut = new java.io.File(o.work, "out/warm-up")
    val tw = System.nanoTime()
    pass(spark, warmIn, warmIn.rows.size, warmOut)._2()
    val warmS = secs(tw)
    val setupS = readyS + secs(ts)
    // every measured pass starts right after full collections, like
    // the ones after it (live heap is read after each pass)
    Main.liveHeapMb()
    System.err.println(f"[perfbench] ready $readyS%.2f s, set-up ${secs(ts)}%.2f s (warm-up pass $warmS%.2f s)")

    // untraced runs repeat passes until the window is filled; traced
    // runs make a fixed number, alternating untraced and traced passes
    val count = math.max(3, Main.units(o.seconds, shape.passS) / 2)
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val traced = scala.collection.mutable.ArrayBuffer.empty[Double]
    val writes = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
    val heap = scala.collection.mutable.ArrayBuffer.empty[Double]
    val traceErrors = scala.collection.mutable.Map.empty[Int, Seq[String]]
    val outDirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
    val tr = if (o.trace) Some(new Tracer(spark)) else None
    val tm = System.nanoTime()
    while (if (o.trace) outDirs.size < count else Main.another(outDirs.size, secs(tm), o.seconds)) {
      val i = outDirs.size
      val out = new java.io.File(o.work, s"out/pass-$i")
      outDirs += out
      val t = System.nanoTime()
      tr match {
        case Some(tc) if i % 2 == 1 =>
          traceErrors(i) = tc.tracedPass(tracedPass(spark, tc, in, n, out))
          traced += secs(t)
        case _ =>
          val (w, release) = pass(spark, in, n, out)
          walls += secs(t)
          writes += w
          heap += Main.liveHeapMb()
          release()
      }
    }
    System.err.println(s"[perfbench] passes ${walls.map(w => f"$w%.2f").mkString(" ")} s; " +
      s"traced ${traced.map(w => f"$w%.2f").mkString(" ")} s; median writes " +
      Outputs.indices.map(i => f"${Outputs(i)} ${median(writes.toSeq.map(_(i)))}%.2f").mkString(", ") + " s")

    // correctness, outside the timed region
    val enrichedRows = in.rows.flatMap(t => Reference.enrich(t, in.matcher).map(t -> _))
    val refRows = enrichedRows.map(_._2)
    val ref = Reference.compute(refRows)
    val warmRef = Reference.compute(warmIn.rows.flatMap(Reference.enrich(_, in.matcher)))
    val bad = (check(warmOut, warmRef) +: outDirs.toSeq.zipWithIndex.map { case (dir, i) =>
      check(dir, ref) ++ traceErrors.getOrElse(i, Nil)
    }).filter(_.nonEmpty)
    bad.headOption.foreach(e => System.err.println(s"[perfbench] wrong output: ${e.mkString("; ")}"))
    val attempted = outDirs.size + 1
    val failed = bad.size

    tr match {
      case None =>
        val passS = median(walls.toSeq)
        Result(attempted, failed, Seq(
          Metric("setup_s", setupS, "s"),
          Metric("pass_s", passS, "s"),
          Metric("items_per_s", n / passS, "1/s"),
          Metric("ok_frac", (attempted - failed).toDouble / attempted, "ratio"),
          Metric("live_heap_mb", median(heap.toSeq), "MB")))
      case Some(tc) =>
        val tokens = enrichedRows.map(r => Tokenizer.tokenize(r._1.text).toSeq)
        val hits = tokens.map(Sentiment.scoreParts(_)._2.toDouble).sum
        val layer = Layers.tweets(tc, traced.toSeq, walls.toSeq, Map(
          "text.EntityRuler.topics_per_tweet" -> refRows.map(_.topics.length.toDouble).sum / refRows.size,
          "text.EntityRuler.matcher_build_ms" -> in.matcherMs,
          "text.Sentiment.hit_frac" -> hits / tokens.map(_.size).sum,
          "jvm.peak_rss_mb" -> Main.peakRssMb()))
        tc.write(new java.io.File(o.work, s"trace/${o.workload}-seed${o.seed}.json"), Seq(
          "workload" -> s""""${o.workload}"""", "seed" -> o.seed.toString,
          "cores" -> Main.cores.toString, "tweets" -> n.toString))
        Result(attempted, failed, layer)
    }
  }
}
