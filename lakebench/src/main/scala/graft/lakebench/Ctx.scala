package graft.lakebench

import graft.lake.{HadoopCommitPrimitive, TableStore}
import org.apache.spark.ListenerDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import java.nio.file.{Files, Path => JPath}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One benchmark operation as it ran. `m` holds the traced run's
  * per-layer readings (empty when the op's cycle was untraced). */
final case class OpRec(id: Int, kind: String, name: String, cycle: Int,
                       traced: Boolean, wallS: Double, failed: Boolean,
                       m: mutable.LinkedHashMap[String, Double],
                       stealS: Double = 0.0, cpuS: Double = 0.0) {
  /** The op's latency with the hypervisor's steal taken out. */
  def adjustedS: Double = Host.unstolen(wallS, cpuS, stealS)
}

/** The harness the workloads run their ops through: it times each
  * call, sets the Spark job group the listener attributes work by,
  * and, in traced cycles, records spans and per-layer counters. */
final class Ctx(val spark: SparkSession, val workDir: File,
                val traceRun: Boolean) {
  val sc = spark.sparkContext
  val tracer = new Tracer
  val prim = new TimedPrimitive(
    new HadoopCommitPrimitive(sc.hadoopConfiguration), tracer)
  val listener = new OpListener
  val ops = mutable.ArrayBuffer.empty[OpRec]
  /** True in the timed phase: ops are recorded as samples. */
  var timed = false
  /** True while the current cycle is traced. */
  var traceOn = false
  var cycle = 0
  private var nextOp = 0
  def opsRun: Int = nextOp
  private var group = ""
  private var listening = false

  /** Set once the workload is loaded: the store and table whose gauges
    * are sampled after traced ops. */
  var mainStore: TableStore = _
  var mainTable: String = ""

  def newStore(name: String): TableStore = {
    val dir = new File(workDir, name)
    Ctx.deleteTree(dir.toPath)
    new TableStore(spark, dir.getAbsolutePath, Some(prim))
  }

  /** Runs one operation. Returns None when it threw (counted as failed). */
  def op[T](kind: String, name: String)(body: => T): Option[T] = {
    val id = nextOp
    nextOp += 1
    val traced = traceOn && timed
    group = s"op-$id"
    if (traced && !listening) { sc.addSparkListener(listener); listening = true }
    if (!traced && listening) { ListenerDrain(sc); sc.removeSparkListener(listener); listening = false }
    val before = if (traced) Counters.read(prim) else null
    val nSpans = tracer.spans.size
    if (traced) { tracer.enabled = true; tracer.currentOp = id }
    sc.setJobGroup(group, name)
    val steal0 = Host.stealS()
    val cpu0 = Host.cpuS()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(s"op.$kind")(body))
      catch { case NonFatal(e) => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    val steal = Host.stealS() - steal0
    val cpu = Host.cpuS() - cpu0
    sc.clearJobGroup()
    tracer.enabled = false
    if (!timed) System.err.println(f"lakebench: warm-up op $name%s $wall%.3f s")
    res.left.foreach { e =>
      System.err.println(s"lakebench: op $name failed: $e")
      e.printStackTrace(System.err)
    }
    if (timed) {
      val m = mutable.LinkedHashMap.empty[String, Double]
      if (traced) {
        ListenerDrain(sc)
        record(m, id, wall, startMs, endMs, Counters.read(prim).minus(before),
          tracer.spans.drop(nSpans).toSeq)
      }
      m("bytes_written") = newBytesWritten().toDouble
      ops += OpRec(id, kind, name, cycle, traced, wall, res.isLeft, m, steal, cpu)
    }
    res.toOption
  }

  /** A named step inside an op: a span of its own and, when traced, a
    * job sub-group, so its jobs are counted apart from the rest. */
  def sub[T](name: String)(body: => T): T =
    if (!tracer.enabled) body
    else {
      val outer = group
      sc.setJobGroup(s"$outer/$name", name)
      try tracer.span(name)(body)
      finally sc.setJobGroup(outer, outer)
    }

  /** A read op: `plan` is the call that returns the DataFrame, then the
    * last row is materialised through the `noop` sink. */
  def read(name: String)(plan: => DataFrame): Unit =
    op("read", name) {
      val df = tracer.span("read.plan")(plan)
      tracer.span("read.exec")(df.write.format("noop").mode("overwrite").save())
    }

  private def record(m: mutable.LinkedHashMap[String, Double], id: Int,
                     wall: Double, startMs: Long, endMs: Long, d: Counters,
                     spans: Seq[Span]): Unit = {
    val gs = listener.take(s"op-$id")
    val all = gs.values.toSeq
    val jobS = Intervals.unionLength(all.flatMap(_.jobIntervalsMs)
      .map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }) / 1e3
    m("spark.jobs") = all.map(_.jobs).sum
    m("spark.tasks") = all.map(_.tasks).sum
    m("spark.job_s") = jobS
    m("spark.driver_s") = math.max(0.0, wall - jobS)
    m("spark.exec_cpu_s") = all.map(_.cpuNs).sum / 1e9
    m("spark.shuffle_bytes") = all.map(_.shuffleBytes).sum
    m("spark.input_bytes") = all.map(_.inputBytes).sum
    m("spark.output_bytes") = all.map(_.outputBytes).sum
    gs.foreach { case (k, g) => if (k.nonEmpty) m(s"$k.jobs") = g.jobs }
    m("fs.read_ops") = d.fsReadOps
    m("fs.write_ops") = d.fsWriteOps
    m("fs.bytes_read") = d.fsBytesRead
    m("fs.bytes_written") = d.fsBytesWritten
    m("meta.manifest_listings") = d.manifestListings
    m("meta.mv_def_loads") = d.mvDefLoads
    m("commit.claims") = d.claims
    m("commit.claims_lost") = d.claimsLost
    m("commit.publishes") = d.publishes
    m("commit.manifest_bytes") = d.manifestBytes
    spans.groupBy(_.name).foreach { case (n, ss) =>
      m(s"span.$n.s") = ss.map(s => s.endNs - s.startNs).sum / 1e9
      m(s"span.$n.n") = ss.size
    }
    if (mainStore != null && mainStore.exists(mainTable)) {
      val cur = mainStore.currentVersion(mainTable).get
      val lines = mainStore.manifest(mainTable, cur)
      val (dels, data) = lines.partition(Ctx.isDeleteLine)
      m("store.versions") = mainStore.versions(mainTable).size
      m("store.live_files") = data.size
      m("store.live_bytes") = data.map(Ctx.fileBytes).sum
      m("store.delete_debt") = dels.size
    }
  }

  // ---- bytes written under the store root, by directory walk -------
  private var seen = Map.empty[String, (Long, Long)]

  /** Bytes of files that appeared or changed under the main store's
    * root since the last call. */
  def newBytesWritten(): Long = {
    val now = Ctx.walk(new File(workDir, "store").toPath)
    val added = now.iterator.collect {
      case (p, (len, mt)) if !seen.get(p).contains((len, mt)) => len
    }.sum
    seen = now
    added
  }
}

object Ctx {
  /** Every regular file under `root`: path -> (length, mtime ms). */
  def walk(root: JPath): Map[String, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).flatMap { p =>
        try Some(p.toString -> ((Files.size(p),
          Files.getLastModifiedTime(p).toMillis)))
        catch { case _: java.io.IOException => None }
      }.toMap
      finally st.close()
    }

  /** Bytes of the data files (hidden `.`/`_` files excluded) under `dir`. */
  def dataBytes(dir: File): Long =
    walk(dir.toPath).collect {
      case (p, (len, _)) if { val n = new File(p).getName
        !n.startsWith(".") && !n.startsWith("_") } => len
    }.sum

  def deleteTree(p: JPath): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally st.close()
    }

  def isDeleteLine(l: String): Boolean = l.startsWith("del|") || l.startsWith("dv|")

  /** Size of the file a manifest line names. */
  def fileBytes(line: String): Long = {
    val path = line.stripPrefix("del|").stripPrefix("dv|").split('|').head
    val f = new File(new java.net.URI(path).getPath)
    if (f.isFile) f.length()
    else if (f.isDirectory) dataBytes(f)
    else 0L
  }
}

/** Readings of the machine the benchmark runs on. */
object Host {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this process has used. */
  def cpuS(): Double = os.getProcessCpuTime / 1e9

  /** CPU seconds, summed over all CPUs, that the hypervisor has taken
    * from this machine while it had work to run (`steal` in
    * /proc/stat); 0 where that is not available. */
  def stealS(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+")(8).toDouble / 100).getOrElse(0.0)
      finally src.close()
    } catch { case _: java.io.IOException => 0.0 }

  /** `wallS` scaled by the share of the CPU time this process could
    * use that it got: `cpuS / (cpuS + stealS)`. Steal accrues only on
    * vCPUs with work to run, and this process is the only busy one, so
    * that share is how much of its runnable time the hypervisor left
    * it. On a host that takes nothing it is 1 and this is `wallS`. */
  def unstolen(wallS: Double, cpuS: Double, stealS: Double): Double =
    if (cpuS + stealS <= 0) wallS else wallS * cpuS / (cpuS + stealS)
}
