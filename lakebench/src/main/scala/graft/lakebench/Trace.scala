package graft.lakebench

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.scheduler._
import graft.lake.{CommitPrimitive, MetaMetrics}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `parent` is the id of the
  * span that caused it (-1 for an operation's root span); `op` is the
  * id of the benchmark operation the span belongs to. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, var endNs: Long = 0L)

/** In-memory span recorder. Disabled, it only runs the body; enabled,
  * it keeps a stack of open spans on the calling thread's behalf (the
  * benchmark drives the engine from one thread) and every closed span
  * in `spans`, written out as JSON when the run ends; `diff.py` folds
  * them into self times. */
final class Tracer {
  @volatile var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var nextId = 0
  var currentOp: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = synchronized {
        val p = stack.headOption.map(_.id).getOrElse(-1)
        val sp = Span(nextId, p, currentOp, name, System.nanoTime())
        nextId += 1
        stack.push(sp)
        sp
      }
      try body
      finally synchronized {
        s.endNs = System.nanoTime()
        stack.pop()
        spans += s
      }
    }
}

object Intervals {
  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark work attributed to one job group (= one benchmark op). */
final class GroupStats {
  var jobs = 0
  var tasks = 0
  var cpuNs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleBytes = 0L
  val jobIntervalsMs = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Attributes jobs and task metrics to the job group the benchmark
  * sets around each call (`spark.jobGroup.id`). AQE and broadcast
  * sub-jobs inherit the caller's local properties, so they land in
  * the same group. */
final class OpListener extends SparkListener {
  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, (String, Long)]

  private def stats(g: String) = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    stats(g).jobs += 1
    jobGroup(e.jobId) = (g, e.time)
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, start) =>
      stats(g).jobIntervalsMs += ((start, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "")
    val s = stats(g)
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.outputBytes += m.outputMetrics.bytesWritten
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Removes and returns the stats of group `g` and of its sub-groups
    * (`g/<name>`), keyed by the sub-group name ("" for `g` itself). */
  def take(g: String): Map[String, GroupStats] = synchronized {
    val keys = groups.keys.filter(k => k == g || k.startsWith(g + "/")).toSeq
    keys.map(k => k.stripPrefix(g).stripPrefix("/") -> groups.remove(k).get).toMap
  }
}

/** Counts and times the commit protocol's two storage operations by
  * wrapping the store's own [[graft.lake.HadoopCommitPrimitive]]; it
  * reaches the store through `TableStore`'s `primitive` argument. */
final class TimedPrimitive(inner: CommitPrimitive, tracer: Tracer)
    extends CommitPrimitive {
  var claims = 0L
  var claimsLost = 0L
  var publishes = 0L
  var manifestBytes = 0L
  /** (table directory, manifest bytes) of every publish while tracing. */
  val publishSizes = mutable.ArrayBuffer.empty[(String, Long)]

  override def tryClaim(tableDir: Path, v: Long): Boolean =
    tracer.span("commit.claim") {
      val won = inner.tryClaim(tableDir, v)
      claims += 1
      if (!won) claimsLost += 1
      won
    }

  override def publish(manifest: Path, content: String): Unit =
    tracer.span("commit.publish") {
      inner.publish(manifest, content)
      val n = content.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong
      publishes += 1
      manifestBytes += n
      if (tracer.enabled)
        publishSizes += ((manifest.getParent.getName, n))
    }

  override def listClaims(tableDir: Path): Seq[(Long, Long)] =
    inner.listClaims(tableDir)
  override def deleteClaim(tableDir: Path, v: Long): Unit =
    inner.deleteClaim(tableDir, v)
  override def promote(staged: Path, dst: Path, conf: Configuration): Unit =
    tracer.span("commit.publish") {
      inner.promote(staged, dst, conf)
      publishes += 1
    }
  override def discard(staged: Path, conf: Configuration): Unit =
    inner.discard(staged, conf)
}

/** A point-in-time reading of every counter the traced run diffs
  * around an op: Hadoop `FileSystem` statistics of the local scheme
  * (bytes) and [[CountingFs]]'s call counts, the engine's
  * `MetaMetrics`, and the commit wrapper's counts. */
final case class Counters(fsReadOps: Long, fsWriteOps: Long,
                          fsBytesRead: Long, fsBytesWritten: Long,
                          manifestListings: Long, mvDefLoads: Long,
                          claims: Long, claimsLost: Long,
                          publishes: Long, manifestBytes: Long) {
  def minus(o: Counters): Counters = Counters(
    fsReadOps - o.fsReadOps, fsWriteOps - o.fsWriteOps,
    fsBytesRead - o.fsBytesRead, fsBytesWritten - o.fsBytesWritten,
    manifestListings - o.manifestListings, mvDefLoads - o.mvDefLoads,
    claims - o.claims, claimsLost - o.claimsLost,
    publishes - o.publishes, manifestBytes - o.manifestBytes)
}

object Counters {
  @annotation.nowarn("cat=deprecation")
  def read(p: TimedPrimitive): Counters = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Counters(CountingFs.readOps.get(), CountingFs.writeOps.get(),
      st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum,
      MetaMetrics.manifestListings.get(), MetaMetrics.mvDefLoads.get(),
      p.claims, p.claimsLost, p.publishes, p.manifestBytes)
  }
}
