package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are epoch milliseconds derived from
  * one nanoTime base, so spans and Spark's job events share a clock.
  */
final case class Span(id: Int, name: String, parent: Int, req: Long,
    startMs: Double, var endMs: Double = 0.0,
    var fs: Array[Long] = Array.emptyLongArray) {
  def durS: Double = (endMs - startMs) / 1000.0
}

/** Per-span layer numbers, self only (children subtracted). */
final case class Layer(span: Span, wallS: Double, jobs: Int, jobS: Double,
    tasks: Long, shuffleBytes: Long, fs: Array[Long],
    phaseS: Map[String, Double])

/** Filesystem counters: read ops, write ops, bytes read, bytes written.
  * Ops on the local filesystem come from [[CountingLocalFileSystem]],
  * ops on any other scheme and all bytes from Hadoop's FileSystem
  * statistics. Tasks run in the driver JVM under local[N], so these
  * cover executor I/O as well as driver I/O.
  */
object FsStats {
  val Fields = Seq("fs_read_ops", "fs_write_ops", "fs_bytes_read",
    "fs_bytes_written")

  @annotation.nowarn("cat=deprecation")
  def snapshot(): Array[Long] = {
    val out = Array(CountingLocalFileSystem.reads.get,
      CountingLocalFileSystem.writes.get, 0L, 0L)
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.foreach { s =>
      out(0) += s.getReadOps + s.getLargeReadOps
      out(1) += s.getWriteOps
      out(2) += s.getBytesRead
      out(3) += s.getBytesWritten
    }
    out
  }
}

/** Times every op the workloads issue. In traced mode it also tags each
  * op's Spark jobs with a job group of its own, and collects job
  * intervals, task counts and shuffle bytes (a SparkListener), Catalyst
  * phase times (a QueryExecutionListener) and Hadoop FS counters, all
  * from outside the engine.
  */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Samples and spans are kept only while recording (the timed loop,
    * between `startLoop` and `endLoop`).
    */
  @volatile private var rec = false
  def recording: Boolean = rec
  private var loopMs = (Double.NaN, Double.NaN)
  def startLoop(): Unit = { loopMs = (nowMs, Double.NaN); rec = true }
  def endLoop(): Unit = if (rec) { rec = false; loopMs = (loopMs._1, nowMs) }
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private var nextId = 0

  private final class JobRec(val group: String, val startMs: Long) {
    @volatile var endMs: Long = -1L
    @volatile var tasks: Long = 0L
    @volatile var shuffleBytes: Long = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val phases = new ConcurrentLinkedQueue[(Double, Map[String, Double])]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
      jobs.put(e.jobId, new JobRec(g, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach { r =>
          r.tasks += 1
          Option(e.taskMetrics).foreach(m =>
            r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten)
        }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        // the planning phase runs at action time, inside the calling op
        val at = ph.get("planning").map(_.startTimeMs)
          .getOrElse(ph.values.map(_.endTimeMs).max).toDouble
        phases.add((at, ph.map { case (k, v) => k -> v.durationMs / 1000.0 }))
      }
    }
  }
  if (traced) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
  }

  /** Run `body` as op `name` of request `req`; nested ops become child
    * spans and their jobs are attributed to the innermost op.
    */
  def op[T](name: String, req: Long)(body: => T): T = {
    val parent = stack.headOption
    val s = Span(nextId, name, parent.fold(-1)(_.id), req, nowMs)
    nextId += 1
    stack = s :: stack
    val fs0 = if (traced) FsStats.snapshot() else null
    if (traced) tag(s)
    try body
    finally {
      s.endMs = nowMs
      stack = stack.tail
      if (traced) {
        val fs1 = FsStats.snapshot()
        s.fs = fs1.indices.map(i => fs1(i) - fs0(i)).toArray
        parent.fold(sc.clearJobGroup())(tag)
      }
      if (recording) {
        samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += s.durS
        if (traced) spans += s
      }
    }
  }

  private def tag(s: Span): Unit =
    sc.setJobGroup(s"perfbench-${s.id}", s"perfbench ${s.name} req=${s.req}",
      interruptOnCancel = false)

  def layers(): (Seq[Layer], Int) = {
    PerfbenchBus.drain(sc)
    val byGroup = jobs.values.asScala.groupBy(_.group)
    val kids = spans.groupBy(_.parent)
    // each QE record goes to the innermost recorded span holding its time
    val phaseBy = mutable.HashMap[Int, mutable.Map[String, Double]]()
    phases.asScala.foreach { case (at, ph) =>
      val hit = spans.filter(s => s.startMs <= at && at <= s.endMs)
      if (hit.nonEmpty) {
        val m = phaseBy.getOrElseUpdate(hit.maxBy(_.startMs).id,
          mutable.HashMap())
        ph.foreach { case (k, v) => m(k) = m.getOrElse(k, 0.0) + v }
      }
    }
    // every job the timed loop started must carry a recorded op's group
    val recorded = spans.map(s => s"perfbench-${s.id}").toSet
    val (lo, hi) = loopMs
    val unattributed = jobs.values.asScala.count { j =>
      lo <= j.startMs && j.startMs <= hi && !recorded(j.group)
    }
    val out = spans.toSeq.map { s =>
      val ch = kids.getOrElse(s.id, Nil)
      val own = byGroup.getOrElse(s"perfbench-${s.id}", Nil).toSeq
      val fs = s.fs.indices.map(i => s.fs(i) - ch.map(_.fs(i)).sum).toArray
      Layer(s, s.durS - ch.map(_.durS).sum, own.size,
        unionS(own.map(j => (j.startMs.toDouble,
          (if (j.endMs < 0) j.startMs else j.endMs).toDouble))),
        own.map(_.tasks).sum, own.map(_.shuffleBytes).sum, fs,
        phaseBy.get(s.id).map(_.toMap).getOrElse(Map.empty))
    }
    (out, unattributed)
  }

  private def unionS(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    iv.sortBy(_._1).foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (a, b) => total += b - a }
    total / 1000.0
  }

  def close(): Unit = if (traced) {
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
  }
}
