package graft.lakebench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** The lake benchmark's JVM entry point (run.py starts it):
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>
  * }}}
  *
  * One workload per process, one closed-loop client on `local[2]`.
  * With `--trace 0` the last stdout line carries the end-to-end
  * metrics; with `--trace 1` it carries the per-layer metrics of the
  * traced cycles (every other one; the rest run untraced, which
  * gives the tracing overhead). Exits 1 when an output is wrong. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt.getOrElse("workload", sys.error("--workload is required"))
    require(Workload.names.contains(name),
      s"unknown workload $name (expected one of ${Workload.names.mkString(", ")})")
    val seed = opt.getOrElse("seed", "1").toLong
    val seconds = opt.getOrElse("seconds", "10").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val outDir = new File(opt.getOrElse("out", "lakebench/out")).getAbsoluteFile
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val steal0 = Host.stealS()
    val tag = s"$name-seed$seed-trace${if (trace) 1 else 0}"
    val workDir = new File(outDir, s"work-$tag")
    Ctx.deleteTree(workDir.toPath)
    workDir.mkdirs()

    val builder = SparkSession.builder()
      .master("local[2]")
      .appName("lakebench")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(workDir, "spark-local").getAbsolutePath)
    if (trace) builder.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val ctx = new Ctx(spark, workDir, trace)
    val w = Workload(name, ctx, seed)
    w.setup()
    ctx.mainStore = w.store
    ctx.mainTable = w.mainTable
    val loadS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - sessionS
    val warmOps = warmUp(w, ctx)
    val setupWallS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val setupS = Host.unstolen(setupWallS, Host.cpuS(), Host.stealS() - steal0)

    ctx.newBytesWritten()
    ctx.timed = true
    val t0 = System.nanoTime()
    // a traced run needs an untraced cycle too, for the overhead
    val cycles = math.max(if (trace) 2 else 1, math.ceil(seconds / w.cycleSeconds).toInt)
    (0 until cycles).foreach { c =>
      ctx.cycle = c
      ctx.traceOn = trace && c % 2 == 0
      w.cycle()
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    ctx.timed = false
    ctx.traceOn = false

    val finishT0 = System.nanoTime()
    val problems = w.check()
    val checkS = (System.nanoTime() - finishT0) / 1e9
    val plainDir = new File(workDir, "plain")
    val changeBytes = Workload.plainBytes(w.changes.map(_._1).toSeq, new File(plainDir, "changes"))
    val tracedChangeBytes = if (!trace) 0L else Workload.plainBytes(
      w.changes.filter(_._3).map(_._1).toSeq, new File(plainDir, "traced"))
    w.expected.coalesce(1).write.parquet(new File(plainDir, "final").getAbsolutePath)
    val finalPlain = Ctx.dataBytes(new File(plainDir, "final"))
    val referenced = w.store.manifest(w.mainTable,
      w.store.currentVersion(w.mainTable).get).map(Ctx.fileBytes).sum

    val report = new Report(ctx, w)
    val e2e = report.endToEnd(setupS, changeBytes, finalPlain, referenced)
    val layers = if (trace) report.perLayer(tracedChangeBytes) else Nil
    val failed = ctx.ops.count(_.failed)
    val attempted = ctx.ops.size
    val correct = problems.isEmpty
    problems.foreach(p => System.err.println(s"lakebench: INCORRECT: $p"))

    val inputs = w.inputs ++ Seq("warmup_ops" -> warmOps.toDouble,
      "cycles" -> cycles.toDouble)
    val record = Json.obj(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "correct" -> correct, "problems" -> problems,
      "attempted" -> attempted, "failed" -> failed,
      "setup_phases_s" -> Json.obj("session" -> sessionS, "load" -> loadS,
        "warmup" -> (setupWallS - sessionS - loadS), "wall" -> setupWallS),
      "timed_s" -> timedS, "check_s" -> checkS,
      "finish_s" -> (System.nanoTime() - finishT0) / 1e9,
      "inputs" -> Json.obj(inputs: _*),
      "tails" -> report.tails,
      "end_to_end" -> Json.obj(e2e.map { case (k, v, u) => k -> Json.obj("value" -> v, "unit" -> u) }: _*),
      "per_layer" -> Json.obj(layers.map { case (k, v, u) => k -> Json.obj("value" -> v, "unit" -> u) }: _*),
      "ops" -> ctx.ops.map(o => Json.obj("id" -> o.id, "kind" -> o.kind,
        "name" -> o.name, "cycle" -> o.cycle, "traced" -> o.traced,
        "wall_s" -> o.wallS, "steal_s" -> o.stealS, "cpu_s" -> o.cpuS, "failed" -> o.failed, "m" -> Json.obj(o.m.toSeq: _*))),
      "spans" -> ctx.tracer.spans.map(s => Json.obj("id" -> s.id,
        "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    Files.write(new File(outDir, s"$tag.json").toPath,
      record.toString.getBytes(StandardCharsets.UTF_8))

    val shown = if (trace) layers else e2e
    println("lakebench: " + name + " inputs " + Json.obj(inputs: _*))
    println("lakebench: " + name + " tails " + report.tails)
    println(Json.obj(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.obj(shown.map { case (k, v, u) =>
        k -> Json.obj("value" -> v, "unit" -> u) }: _*)))
    System.out.flush()
    spark.stop()
    Ctx.deleteTree(workDir.toPath)
    sys.exit(if (correct) 0 else 1)
  }

  /** Runs the workload's untimed warm-up on the loaded table.
    * Returns the number of ops run. */
  private def warmUp(w: Workload, ctx: Ctx): Int = {
    val before = ctx.opsRun
    w.warmUp()
    ctx.opsRun - before
  }
}

/** The metrics of one run, folded from the ops the harness recorded. */
final class Report(ctx: Ctx, w: Workload) {
  private val ops = ctx.ops.toSeq

  private def samples(kind: String, traced: Option[Boolean]) =
    ops.filter(o => o.kind == kind && !o.failed && traced.forall(_ == o.traced))

  private def walls(kind: String, traced: Option[Boolean] = None) =
    samples(kind, traced).map(_.wallS)

  /** Untraced samples in a traced run; every sample otherwise. */
  private def plain(kind: String) =
    samples(kind, if (ctx.traceRun) Some(false) else None)

  private def plainWalls(kind: String) = plain(kind).map(_.wallS)

  /** The latency samples the end-to-end medians are taken over: each
    * plain sample with the hypervisor's steal taken out. A host that
    * takes a vCPU stalls every Spark stage with a task on it, so in the
    * minutes-long phases when it takes 10-30% of the machine, ops run
    * up to twice as long for the same CPU time. */
  private def adjusted(kind: String) = plain(kind).map(_.adjustedS)

  def endToEnd(setupS: Double, changeBytes: Long, finalPlain: Long,
               referenced: Long): Seq[(String, Double, String)] = {
    val rows = w.changes.filter(c => !ctx.traceRun || !c._3).map(_._2).sum.toDouble
    val nWrites = plainWalls("write").size
    val nMaints = plainWalls("maint").size
    val (writeP50, maintP50) = (Stats.median(adjusted("write")), Stats.median(adjusted("maint")))
    // the change rows one write applies, over the time one write and
    // its share of maintenance take at the median latencies
    val perWrite = writeP50 + maintP50 * nMaints / math.max(1, nWrites)
    val written = ops.filter(o => o.kind != "read").map(_.m("bytes_written")).sum
    Seq(
      ("setup_s", setupS, "s"),
      ("write_p50_s", writeP50, "s"),
      ("read_p50_s", Stats.median(adjusted("read")), "s"),
      ("maint_p50_s", maintP50, "s"),
      ("ingest_rows_per_s",
        if (perWrite > 0) rows / math.max(1, nWrites) / perWrite else 0.0, "rows/s"),
      ("write_amp", written / math.max(1L, changeBytes), "1"),
      ("space_amp", referenced.toDouble / math.max(1L, finalPlain), "1"),
      ("peak_rss_mb", Stats.peakRssMb, "MB"))
  }

  /** Highest percentile with at least ten samples beyond it, with its
    * sample count (absent below eleven samples), and the median wall
    * latency before the steal is taken out. */
  def tails: Json.Raw = Json.obj(Seq("write", "read", "maint").map { k =>
    val xs = plainWalls(k).sorted
    val n = Seq("samples" -> xs.size, "wall_p50_s" -> Stats.median(xs))
    k -> (if (xs.size < 11) Json.obj(n: _*)
      else Json.obj(Seq("value_s" -> xs(xs.size - 11),
        "percentile" -> 100.0 * (xs.size - 10) / xs.size) ++ n: _*))
  }: _*)

  private def traced(kind: String) = ops.filter(o => o.traced && o.kind == kind)
  private def tracedNamed(name: String) = ops.filter(o => o.traced && o.name == name)
  private def v(o: OpRec, k: String) = o.m.getOrElse(k, 0.0)
  private def meanOf(os: Seq[OpRec], k: String) = Stats.mean(os.map(v(_, k)))
  private def medOf(os: Seq[OpRec], k: String) = Stats.median(os.map(v(_, k)))

  def perLayer(changeBytes: Long): Seq[(String, Double, String)] = {
    val spans = ctx.tracer.spans.toSeq
    val byId = spans.map(s => s.id -> s).toMap
    def under(s: Span, ancestor: String): Boolean = {
      var p = byId.get(s.parent)
      while (p.exists(_.name != ancestor)) p = p.flatMap(x => byId.get(x.parent))
      p.isDefined
    }
    def spanSecs(n: String) = spans.filter(_.name == n).map(s => (s.endNs - s.startNs) / 1e9)
    val kinds = Seq("write", "read", "maint")
    val perKind = kinds.flatMap { k =>
      val os = traced(k)
      Seq((s"spark.jobs.$k", meanOf(os, "spark.jobs"), "count"),
        (s"spark.tasks.$k", meanOf(os, "spark.tasks"), "count"),
        (s"spark.job_s.$k", medOf(os, "spark.job_s"), "s"),
        (s"spark.driver_s.$k", medOf(os, "spark.driver_s"), "s"),
        (s"commit.publishes.$k", meanOf(os, "commit.publishes"), "count"),
        (s"meta.manifest_listings.$k", meanOf(os, "meta.manifest_listings"), "count"))
    }
    val writes = traced("write")
    val reads = traced("read")
    val maints = traced("maint")
    val all = ops.filter(_.traced)
    val claims = all.map(v(_, "commit.claims")).sum
    val lost = all.map(v(_, "commit.claims_lost")).sum
    val pubs = ctx.prim.publishSizes.toSeq
    val mainPubs = pubs.filter(_._1 == w.mainTable).map(_._2.toDouble)
    val ingest = tracedNamed("ingest")
    val syncs = spans.filter(_.name == "index.sync")
    val syncPublishes = spans.count(s => s.name == "commit.publish" && under(s, "index.sync"))
    val last = all.lastOption
    val debt = reads.map(v(_, "store.delete_debt"))
    val jobOverhead = Seq("write", "read").map { k =>
      (s"trace.overhead_${k}_p50_s",
        Stats.median(walls(k, Some(true))) - Stats.median(walls(k, Some(false))), "s")
    }
    perKind ++ Seq(
      ("spark.exec_cpu_s.write", meanOf(writes, "spark.exec_cpu_s"), "s"),
      ("spark.shuffle_bytes.write", meanOf(writes, "spark.shuffle_bytes"), "B"),
      ("spark.input_bytes.read", meanOf(reads, "spark.input_bytes"), "B"),
      ("spark.output_bytes.write", meanOf(writes, "spark.output_bytes"), "B"),
      ("commit.claims", claims, "count"),
      ("commit.claim_lost_ratio", if (claims > 0) lost / claims else 0.0, "1"),
      ("commit.claim_s", Stats.median(spanSecs("commit.claim")), "s"),
      ("commit.publish_s", Stats.median(spanSecs("commit.publish")), "s"),
      ("commit.manifest_bytes", Stats.mean(pubs.map(_._2.toDouble)), "B"),
      ("commit.manifest_bytes_growth", Stats.slope(mainPubs), "B/commit"),
      ("fs.read_ops.read", meanOf(reads, "fs.read_ops"), "count"),
      ("fs.bytes_read.read", meanOf(reads, "fs.bytes_read"), "B"),
      ("fs.write_ops.write", meanOf(writes, "fs.write_ops"), "count"),
      ("fs.bytes_written.write", meanOf(writes, "fs.bytes_written"), "B"),
      ("fs.bytes_written_per_change_byte",
        (writes ++ maints).map(v(_, "fs.bytes_written")).sum /
          math.max(1.0, changeBytes.toDouble), "1"),
      ("meta.mv_def_loads", meanOf(all, "meta.mv_def_loads"), "count"),
      ("store.versions", last.map(v(_, "store.versions")).getOrElse(0.0), "count"),
      ("store.live_files", last.map(v(_, "store.live_files")).getOrElse(0.0), "count"),
      ("store.live_bytes", last.map(v(_, "store.live_bytes")).getOrElse(0.0), "B"),
      ("store.delete_debt", Stats.mean(all.map(v(_, "store.delete_debt"))), "count"),
      ("store.delete_debt_max", (0.0 +: all.map(v(_, "store.delete_debt"))).max, "count"),
      ("read.plan_s", medOf(reads, "span.read.plan.s"), "s"),
      ("read.exec_s", medOf(reads, "span.read.exec.s"), "s"),
      ("read.jobs_debt_corr", Stats.corr(reads.map(v(_, "spark.jobs")), debt), "1"),
      ("ingest.driver_self_s", Stats.median(ingest.map(o => o.wallS -
        v(o, "spark.job_s") - v(o, "span.commit.claim.s") -
        v(o, "span.commit.publish.s"))), "s"),
      ("sql.insert_s", medOf(tracedNamed("insert"), "span.sql.insert.s"), "s"),
      ("compact.s", medOf(tracedNamed("compact"), "span.compact.s"), "s"),
      ("compact.bytes_written", meanOf(tracedNamed("compact"), "bytes_written"), "B"),
      ("mv.refresh_s", Stats.median(spanSecs("mv.refresh")), "s"),
      ("mv.refresh_jobs", meanOf(tracedNamed("refresh_sync"), "mv.refresh.jobs"), "count"),
      ("index.sync_s", Stats.median(spanSecs("index.sync")), "s"),
      ("index.sync_jobs", meanOf(tracedNamed("refresh_sync"), "index.sync.jobs"), "count"),
      ("index.sync_publishes", if (syncs.isEmpty) 0.0 else syncPublishes.toDouble / syncs.size, "count"),
      ("index.search_s", Stats.median(tracedNamed("search").map(_.wallS)), "s")
    ) ++ jobOverhead
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

  /** Least-squares slope of `ys` against their index. */
  def slope(ys: Seq[Double]): Double =
    if (ys.size < 2) 0.0
    else {
      val xs = ys.indices.map(_.toDouble)
      val mx = mean(xs); val my = mean(ys)
      val sxx = xs.map(x => (x - mx) * (x - mx)).sum
      xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
    }

  /** Pearson correlation; 0 when either side is constant. */
  def corr(a: Seq[Double], b: Seq[Double]): Double = {
    val ma = mean(a); val mb = mean(b)
    val sa = math.sqrt(a.map(x => (x - ma) * (x - ma)).sum)
    val sb = math.sqrt(b.map(x => (x - mb) * (x - mb)).sum)
    if (sa == 0 || sb == 0) 0.0
    else a.zip(b).map { case (x, y) => (x - ma) * (y - mb) }.sum / (sa * sb)
  }

  /** `VmHWM` of this process, in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

/** Just enough JSON for the benchmark's output. */
object Json {
  /** Already-rendered JSON. */
  final case class Raw(s: String) { override def toString: String = s }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}: ${render(v)}" }.mkString("{", ", ", "}"))

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def render(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => str(String.valueOf(other))
  }
}
