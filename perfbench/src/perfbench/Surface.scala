package perfbench

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, VariantType}

import graft.SparkEntry

import Main.{Metric, Result, median, quantile, secs}

/** A fixed slice of `SparkEntry.queries` over committed sf0.01 tables:
  * each query is built, planned and executed through a full-row
  * digest, and the digest is compared with the recorded one. */
object Surface {

  /** Every `Stride`-th query of each module, in sorted order, so all
    * 13 modules are in the slice. */
  val Stride = 32

  def slice: Seq[String] =
    Layers.Modules.flatMap(_._2.toSeq.sorted.zipWithIndex.collect {
      case (q, i) if i % Stride == 0 => q
    }).sorted

  /** One row (rows, Σ low 32 bits, Σ high 32 bits of xxhash64 over
    * every column): consumes every output column, independent of row
    * order. Map and variant columns are hashed through their JSON. */
  def digest(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType | _: VariantType => to_json(col(f.name))
        case t if t.catalogString.contains("map<") || t.catalogString.contains("variant") =>
          to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.select(h.as("h")).agg(
      count(lit(1)).as("n"),
      coalesce(sum(col("h").bitwiseAND(0xFFFFFFFFL)), lit(0L)),
      coalesce(sum(shiftright(col("h"), 32)), lit(0L)))
  }

  final case class Sample(query: String, wall: Double, digest: Try[String])

  /** Build, plan and execute one query; `step` wraps each layer. */
  def runQuery(spark: SparkSession, dir: String, q: String,
               step: String => (=> Any) => Any): Sample = {
    val t = System.nanoTime()
    val d = Try {
      val df = step("spark.construct")(SparkEntry.queries(q)(spark, dir)).asInstanceOf[DataFrame]
      val dig = digest(df)
      step("spark.catalyst")(dig.queryExecution.executedPlan)
      val r = step("spark.exec")(dig.collect().head).asInstanceOf[org.apache.spark.sql.Row]
      s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
    }
    Sample(q, secs(t), d)
  }

  private val untraced: String => (=> Any) => Any = _ => body => body

  def sweep(spark: SparkSession, dir: String, qs: Seq[String], tr: Option[Tracer]): Seq[Sample] =
    tr match {
      case None => qs.map(runQuery(spark, dir, _, untraced))
      case Some(t) =>
        t.tracedPass(qs.map(q => t.span(s"query:$q")(
          runQuery(spark, dir, q, name => body => t.span(name)(body)))))
    }

  def expected(o: Main.Opts): Map[String, String] = {
    val src = scala.io.Source.fromFile(new java.io.File(o.bench, "expected_digests.json"), "UTF-8")
    try "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(src.mkString)
      .map(m => m.group(1) -> m.group(2)).toMap
    finally src.close()
  }

  /** Digest of every registered query, written as the expected-digest file. */
  def record(spark: SparkSession, o: Main.Opts): Unit = {
    val rows = SparkEntry.queries.keys.toSeq.sorted.map { q =>
      SparkEntry.staging.get(q).foreach(_(spark, o.data))
      val s = runQuery(spark, o.data, q, untraced)
      System.err.println(s"[perfbench] $q ${s.digest}")
      s"""  "$q": "${s.digest.get}""""
    }
    java.nio.file.Files.write(new java.io.File(o.bench, "expected_digests.json").toPath,
      rows.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
    println(s"""{"recorded": ${rows.size}}""")
  }

  def run(spark: SparkSession, o: Main.Opts, readyS: Double): Result = {
    val qs = slice
    val want = expected(o)
    val staging = qs.filter(SparkEntry.staging.contains).map { q =>
      val t = System.nanoTime()
      SparkEntry.staging(q)(spark, o.data)
      q -> secs(t)
    }
    System.err.println(s"[perfbench] slice of ${qs.size}: ${qs.mkString(" ")}; staging " +
      staging.map { case (q, t) => f"$q $t%.2f s" }.mkString(", "))
    // warm-up: one sweep, checked, not timed
    val tw = System.nanoTime()
    val warm = sweep(spark, o.data, qs, None)
    val setupS = readyS + staging.map(_._2).sum + secs(tw)
    // every measured sweep starts right after full collections, like
    // the ones after it (live heap is read after each sweep)
    Main.liveHeapMb()

    // untraced runs repeat sweeps until the window is filled; traced
    // runs make one untraced and one traced sweep
    val walls = mutable.ArrayBuffer.empty[Seq[Sample]]
    val traced = mutable.ArrayBuffer.empty[Seq[Sample]]
    val heap = mutable.ArrayBuffer.empty[Double]
    val tr = if (o.trace) Some(new Tracer(spark)) else None
    def sum(s: Seq[Sample]) = s.map(_.wall).sum
    val tm = System.nanoTime()
    var i = 0
    while (if (o.trace) i < 2 else Main.another(i, secs(tm), o.seconds)) {
      if (tr.isDefined && i % 2 == 1) traced += sweep(spark, o.data, qs, tr)
      else {
        walls += sweep(spark, o.data, qs, None)
        heap += Main.liveHeapMb()
      }
      i += 1
    }
    System.err.println(s"[perfbench] sweeps ${walls.map(w => f"${sum(w.toSeq)}%.2f").mkString(" ")} s; " +
      s"traced ${traced.map(w => f"${sum(w.toSeq)}%.2f").mkString(" ")} s; warm-up ${f"${sum(warm)}%.2f"} s")
    qs.indices.foreach(i => System.err.println(s"[perfbench]   ${qs(i)} " +
      walls.map(w => f"${w(i).wall}%.3f").mkString(" ")))
    val all = warm ++ walls.flatten ++ traced.flatten
    val bad = all.filter(s => s.digest.toOption != want.get(s.query))
    bad.take(3).foreach(s => System.err.println(s"[perfbench] ${s.query}: ${s.digest match {
      case Success(d) => s"digest $d, expected ${want.getOrElse(s.query, "none")}"
      case Failure(e) => e.toString
    }}"))
    val attempted = all.size
    val failed = bad.size

    tr match {
      case None =>
        // each query's wall, median over sweeps
        val perQuery = qs.indices.map(i => median(walls.toSeq.map(_(i).wall)))
        val passS = perQuery.sum
        Result(attempted, failed, Seq(
          Metric("setup_s", setupS, "s"),
          Metric("pass_s", passS, "s"),
          Metric("items_per_s", qs.size / passS, "1/s"),
          Metric("ok_frac", (attempted - failed).toDouble / attempted, "ratio"),
          Metric("live_heap_mb", median(heap.toSeq), "MB")))
      case Some(t) =>
        val passes = t.spans.filter(_.name == "pass").toSeq
        def total(name: String, f: t.Span => Double) =
          median(passes.map(p => t.spans.filter(s => s.pass == p.pass && s.name == name).map(f).sum))
        def ms(name: String) = total(name, s => (s.end - s.start) / 1e6)
        def exec(k: String) = total("spark.exec", _.exec(k))
        val execMs = ms("spark.exec")
        val modules = Layers.Modules.map { case (m, names, _) =>
          s"queries.$m.s" -> median(traced.toSeq.map(_.filter(s => names(s.query)).map(_.wall).sum))
        }
        val stagedModules = Layers.Modules.filter(_._3.nonEmpty).map { case (m, _, st) =>
          s"queries.$m.staging_s" -> staging.filter(s => st(s._1)).map(_._2).sum
        }
        val values = Map(
          "spark.construct.ms" -> ms("spark.construct"),
          "spark.construct.jobs" -> total("spark.construct", _.exec("jobs")),
          "spark.catalyst.ms" -> ms("spark.catalyst"),
          "spark.exec.ms" -> execMs,
          "jvm.peak_rss_mb" -> Main.peakRssMb(),
          // the tail of the untraced sweep's query walls
          "queries.p95_s" -> quantile(walls.head.map(_.wall), 0.95),
          "spark.exec.peak_exec_mem_bytes" -> median(passes.map(_.exec("peak_exec_mem_bytes"))),
          "spark.exec.busy_frac" -> exec("task_run_ms") / (execMs * Main.cores),
          "trace.coverage_frac" -> median(passes.map(p => t.spans.filter(s => s.pass == p.pass &&
            s.name.startsWith("spark.")).map(s => (s.end - s.start).toDouble).sum / (p.end - p.start))),
          "trace_overhead_frac" -> (median(traced.toSeq.map(sum)) / median(walls.toSeq.map(sum)) - 1)) ++
          Seq("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "gc_ms", "input_bytes",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
            .map(k => s"spark.exec.$k" -> exec(k)) ++ modules ++ stagedModules
        val rows = traced.flatten.map { s =>
          def part(n: String) = t.spans.find(x => x.name == n &&
            t.spans.exists(q => q.id == x.parent && q.name == s"query:${s.query}"))
            .map(x => (x.end - x.start) / 1e6).getOrElse(0.0)
          s.query -> Seq(part("spark.construct"), part("spark.catalyst"), part("spark.exec"))
        }
        t.write(new java.io.File(o.work, s"trace/${o.workload}-seed${o.seed}.json"), Seq(
          "workload" -> s""""${o.workload}"""", "seed" -> o.seed.toString,
          "cores" -> Main.cores.toString, "queries" -> qs.size.toString,
          "per_query_ms" -> rows.map { case (q, v) =>
            s""""$q": {"construct": ${v(0)}, "catalyst": ${v(1)}, "exec": ${v(2)}}"""
          }.mkString("{", ", ", "}")))
        Result(attempted, failed, Layers.metrics(values))
    }
  }
}
