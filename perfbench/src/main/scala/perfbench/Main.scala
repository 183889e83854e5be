package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its metrics; the last stdout line is
  * the JSON result.
  *
  * {{{
  * Main --workload curate|kb_serve|table_churn --seed N --seconds S
  *      --trace 0|1 --work DIR [--cycles N] [--trace-out FILE]
  * }}}
  *
  * The timed phase runs whole cycles of the workload's operation
  * pattern until S seconds of operation time are used, so every run
  * holds the same mix. `--cycles N` runs exactly N cycles instead; two
  * traced runs with the same seed and N then run the same operation
  * sequence, which is what the count-repeat check compares. */
object Main {
  val SetupRounds = 3

  /** Per-layer metric → the span whose mean self time it reports. */
  private val SpanTimes: Seq[(String, String)] =
    Seq("curate", "dedup_exact", "admit", "lm_filter", "gopher", "pack", "bm25",
      "lexical_upsert").map(s => s"operators.$s.ms" -> s"operators.$s") ++
    Seq("search_call", "plan", "exec", "upsert", "retract")
      .map(s => s"session.${s}_ms" -> s"session.$s") ++
    Seq("merge_lite_small", "merge_lite_large", "delete_lite_small", "delete_lite_large",
      "maintain", "read_key", "read_full", "changes", "snapshot")
      .map(s => s"sources.$s.ms" -> s"sources.$s")

  private val RowsOut: Seq[String] =
    Seq("curate", "dedup_exact", "admit", "lm_filter", "gopher", "pack")
      .map(s => s"operators.$s.rows_out")

  private val StateCounts = Seq("sources.files_rewritten", "sources.files_written",
    "sources.rowlevel_rows", "sources.rowlevel_files", "sources.base_files",
    "sources.manifest_bytes")

  private val ExecNames = Seq("exec.jobs", "exec.stages", "exec.tasks", "exec.task_ms",
    "exec.input_bytes", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "exec.queries", "exec.catalyst_ms", "exec.idle_ms")

  private def unitOf(name: String): String =
    if (name.endsWith("_ns_per_doc") || name.endsWith("_ns_per_pair")) "ns"
    else if (name.endsWith("ms")) "ms"
    else if (name.endsWith("bytes")) "B"
    else if (name.endsWith("rows_out")) "rows"
    else if (name.endsWith("ops_per_s")) "1/s"
    else "count"

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val maxCycles = args.get("cycles").map(_.toInt).getOrElse(Int.MaxValue)
    val work = new File(args("work"))
    work.mkdirs()

    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    val sessionS = (System.nanoTime() - t0) / 1e9

    val w: Workload = workload match {
      case "curate" => new Curate(spark, seed, work)
      case "kb_serve" => new KbServe(spark, seed, work)
      case "table_churn" => new TableChurn(spark, seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupTimes = (0 until SetupRounds).map { r =>
      val s = System.nanoTime()
      w.setup(r)
      (System.nanoTime() - s) / 1e9
    }
    val setupS = sessionS + Stats.median(setupTimes)
    val tWarm = System.nanoTime()
    w.warmup()
    val warmS = (System.nanoTime() - tWarm) / 1e9

    if (traced) Trace.start(spark)
    val budgetNs = (seconds * 1e9).toLong
    val buf = scala.collection.mutable.ArrayBuffer.empty[Sample]
    var usedNs = 0L
    var cycles = 0
    var failing = false
    while (cycles < maxCycles && !failing && (usedNs < budgetNs || args.contains("cycles"))) {
      val s = w.cycle(cycles)
      buf ++= s
      usedNs += s.map(_.ns).sum
      cycles += 1
      failing = buf.count(_.failed) * 2 > buf.size // the run is failed anyway
    }
    val samples = buf.toSeq
    val spanRows = Trace.finish()
    val rt = Runtime.getRuntime
    val heapMb = Seq.fill(3) {
      System.gc()
      Thread.sleep(50)
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }.min

    val tFinish = System.nanoTime()
    val outcome = w.finish()
    println(f"phases session ${sessionS}%.1f s, set-up ${setupTimes.sum}%.1f s, warm-up $warmS%.1f s, " +
      f"timed ${usedNs / 1e9}%.1f s, checks ${(System.nanoTime() - tFinish) / 1e9}%.1f s")
    val attempted = samples.map(_.units).sum
    val failed = samples.filter(_.failed).map(_.units).sum
    val opsPerS = samples.filterNot(_.failed).map(_.units).sum / (usedNs / 1e9)
    val reads = samples.filter(s => !s.write && !s.failed).map(_.ns / 1e6)
    val writes = samples.filter(s => s.write && !s.failed).map(_.ns / 1e6)
    val (readTail, readTailNote) = Stats.tail(reads)
    val (writeTail, writeTailNote) = Stats.tail(writes)

    val e2e = Seq(
      ("setup_s", setupS, "s", f"session ${sessionS}%.3f s + median of $SetupRounds set-ups " +
        setupTimes.map(t => f"$t%.3f").mkString("[", ", ", "]")),
      ("ops_per_s", opsPerS, "1/s", s"${samples.size} operations in $cycles cycles, ${usedNs / 1e9} s"),
      ("read_p50_ms", Stats.median(reads), "ms", s"${reads.size} samples"),
      ("read_tail_ms", readTail, "ms", readTailNote),
      ("write_p50_ms", Stats.median(writes), "ms", s"${writes.size} samples"),
      ("write_tail_ms", writeTail, "ms", writeTailNote),
      ("recall", outcome.recall, "ratio", "see README.md for the per-workload definition"),
      ("stored_bytes_per_row", outcome.storedBytesPerRow, "B/row", ""),
      ("heap_live_mb", heapMb, "MB", "driver heap after a forced GC at the end of the timed phase"))
    val quality = outcome.quality :+
      (("error_rate", if (attempted == 0) 0.0 else failed.toDouble / attempted, "ratio"))

    val byKind = samples.groupBy(_.kind).toSeq.sortBy(_._1)
    byKind.foreach { case (k, ss) =>
      println(f"op $k%-18s n=${ss.size}%5d p50=${Stats.median(ss.map(_.ns / 1e6))}%.2f ms" +
        s" failed=${ss.count(_.failed)}")
    }
    e2e.foreach { case (n, v, u, note) => println(s"metric $n $v $u${if (note.isEmpty) "" else s"  ($note)"}") }
    quality.foreach { case (n, v, u) => println(s"metric $n $v $u") }
    outcome.failures.foreach(f => println(s"CHECK FAILED: $f"))

    val metrics: Seq[(String, Double, String)] =
      if (!traced) e2e.collect { case (n, v, u, _) if Gated.contains(n) => (n, v, u) }
      else {
        val (texts, vecs) = w.kernelInputs
        val layer = layerMetrics(spanRows, samples.size) ++ Kernels.measure(texts, vecs) ++
          w.layerState() + ("trace.ops_per_s" -> opsPerS)
        spanTable(spanRows)
        args.get("trace-out").foreach(f => writeTrace(new File(f), spanRows))
        perLayerNames.map(n => (n, layer.getOrElse(n, 0.0), unitOf(n)))
      }
    if (traced) metrics.foreach { case (n, v, u) => println(s"layer $n $v $u") }

    val correct = outcome.failures.isEmpty && failed == 0
    println(Json.obj(Seq(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u)))
      })))))
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }

  /** The end-to-end metrics of the result line, which BENCHMARK.json
    * bounds. The tails are printed but not bounded: a run holds too few
    * writes for a percentile with ten samples beyond it. */
  val Gated = Set("setup_s", "ops_per_s", "read_p50_ms", "write_p50_ms", "recall",
    "stored_bytes_per_row", "heap_live_mb")

  val perLayerNames: Seq[String] =
    Seq("functions.minhash_ns_per_doc", "functions.textsignals_ns_per_doc",
      "functions.cosine_ns_per_pair") ++ SpanTimes.map(_._1) ++ RowsOut ++ StateCounts ++
      ExecNames :+ "trace.ops_per_s"

  private def layerMetrics(rows: Seq[Trace.SpanRow], nOps: Int): Map[String, Double] = {
    val byName = rows.groupBy(_.span.name)
    val times = SpanTimes.flatMap { case (metric, span) =>
      byName.get(span).map(rs => metric -> Stats.mean(rs.map(_.selfMs)))
    }
    val ops = math.max(1, nOps).toDouble
    val e = rows.map(_.exec)
    val exec = Map(
      "exec.jobs" -> e.map(_.jobs).sum / ops,
      "exec.stages" -> e.map(_.stages).sum / ops,
      "exec.tasks" -> e.map(_.tasks).sum / ops,
      "exec.task_ms" -> e.map(_.taskMs).sum / ops,
      "exec.input_bytes" -> e.map(_.inputBytes).sum / ops,
      "exec.shuffle_read_bytes" -> e.map(_.shuffleRead).sum / ops,
      "exec.shuffle_write_bytes" -> e.map(_.shuffleWrite).sum / ops,
      "exec.spill_bytes" -> e.map(_.spill).sum / ops,
      "exec.queries" -> e.map(_.queries).sum / ops,
      "exec.catalyst_ms" -> e.map(_.catalystMs).sum / ops,
      "exec.idle_ms" -> rows.filter(_.span.parent < 0).map(_.idleMs).sum / ops)
    val counts = rows.flatMap(_.span.counts).groupBy(_._1).map { case (k, vs) =>
      // sources.files_* are per write that reported them; rows_out is per pass
      k -> vs.map(_._2.toDouble).sum / vs.size
    }
    times.toMap ++ exec ++ counts
  }

  /** Per span name: occurrences, mean self time and the Spark work and
    * counts attributed to it, summed. Printed and written to the trace
    * file; the count-repeat check compares these between runs. */
  private def byName(rows: Seq[Trace.SpanRow]): Seq[(String, Seq[(String, Double)])] =
    rows.groupBy(_.span.name).toSeq.sortBy(_._1).map { case (name, rs) =>
      val e = rs.map(_.exec)
      val client = rs.flatMap(_.span.counts).groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (k, vs) => k -> vs.map(_._2.toDouble).sum }
      name -> (Seq(
        "n" -> rs.size.toDouble,
        "self_ms" -> Stats.mean(rs.map(_.selfMs)),
        "exec.jobs" -> e.map(_.jobs).sum.toDouble,
        "exec.stages" -> e.map(_.stages).sum.toDouble,
        "exec.tasks" -> e.map(_.tasks).sum.toDouble,
        "exec.queries" -> e.map(_.queries).sum.toDouble,
        "exec.input_bytes" -> e.map(_.inputBytes).sum.toDouble,
        "exec.shuffle_write_bytes" -> e.map(_.shuffleWrite).sum.toDouble) ++ client)
    }

  private def spanTable(rows: Seq[Trace.SpanRow]): Unit =
    byName(rows).foreach { case (name, vs) =>
      println(f"span $name%-28s " + vs.map { case (k, v) => s"$k=${Stats.fmt(v)}" }.mkString(" "))
    }

  private def writeTrace(f: File, rows: Seq[Trace.SpanRow]): Unit = {
    Option(f.getParentFile).foreach(_.mkdirs())
    val spans = rows.map { r =>
      val s = r.span
      Json.Raw(Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ms" -> r.selfMs,
        "idle_ms" -> r.idleMs, "jobs" -> r.exec.jobs, "stages" -> r.exec.stages,
        "tasks" -> r.exec.tasks, "task_ms" -> r.exec.taskMs, "input_bytes" -> r.exec.inputBytes,
        "shuffle_read_bytes" -> r.exec.shuffleRead,
        "shuffle_write_bytes" -> r.exec.shuffleWrite, "spill_bytes" -> r.exec.spill,
        "queries" -> r.exec.queries, "catalyst_ms" -> r.exec.catalystMs) ++
        s.counts.toSeq))
    }
    val names = byName(rows).map { case (n, vs) => n -> Json.Raw(Json.obj(vs)) }
    val pw = new PrintWriter(f, "UTF-8")
    try pw.println(Json.obj(Seq("by_name" -> Json.Raw(Json.obj(names)),
      "spans" -> Json.Raw(spans.map(_.s).mkString("[", ",", "]")))))
    finally pw.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest percentile with at least ten samples above it, and a
    * note naming that percentile and the sample count. With ten or
    * fewer samples no such percentile exists and the maximum is
    * reported instead. */
  def tail(xs: Seq[Double]): (Double, String) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0.0, "no samples")
    else if (n <= 10) (s.last, s"max of $n samples (fewer than 11)")
    else {
      val rank = n - 10
      (s(rank - 1), f"p${100.0 * rank / n}%.1f of $n samples")
    }
  }

  def fmt(v: Double): String = if (v == math.rint(v)) v.toLong.toString else f"$v%.3f"
}

/** Just enough JSON for the result line and the trace file. */
object Json {
  final case class Raw(s: String)

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  private def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
