package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.assess.Assessor
import graft.checks.{CheckDsl, Checks}
import graft.model.{Registry, Workload => Wl}
import graft.substrate.{IvfPq, Layout, PqIndex, SnapshotStore, VectorArtifact}

/** What every workload shares: the session, the tracer, the generated
  * input tables, the seed, the pinned scorecard values and the tally of
  * attempted and failed requests.
  */
final class Ctx(val spark: SparkSession, val t: Tracer, val data: String,
    val sf: String, val seed: Long,
    val expected: Map[(String, String, String), Double]) {
  val rng = new scala.util.Random(seed)
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()
  private var reqId = 0L

  /** One checked request: a false check counts it failed. An exception
    * ends the run (the caller counts it), since store state after a
    * failed commit is no longer what the model says.
    */
  def request(body: Long => Boolean): Unit = {
    reqId += 1
    val counted = t.recording
    if (counted) attempted += 1
    val ok =
      try body(reqId)
      catch {
        case e: Throwable =>
          throw new RuntimeException(s"request $reqId failed: $e", e)
      }
    if (!ok) {
      if (counted) failed += 1
      if (errors.size < 20) errors += s"request $reqId produced wrong output"
      if (!counted) throw new IllegalStateException(
        s"warm-up request $reqId produced wrong output")
    }
  }
}

trait Workload {
  /** Build the fixture under `root`; timed as part of set-up. */
  def build(root: String): Unit
  /** One whole period of the request mix; the timed loop ends only on a
    * cycle boundary so every per-op mean covers whole periods.
    */
  def cycle(): Unit
  /** The warm-up run after the last fixture build. */
  def warm(): Unit = cycle()
  /** Reset the benchmark's own model to the fresh fixture; untimed. */
  def reset(): Unit = ()
  /** Metrics beyond the per-op latency samples. */
  def extra: Map[String, Double] = Map.empty
}

/** Repeated full scorecards, serving then training, each followed by
  * the capability-level rollup of the collected rows. The requests do not
  * depend on the seed: the tables are fixed and a scorecard takes no
  * other input. The traced run adds one serial pass over every scored
  * check per cycle, timed one check at a time and grouped by factor.
  */
final class AssessWorkload(c: Ctx) extends Workload {
  import c._

  def build(root: String): Unit = ()

  def cycle(): Unit = {
    assess(Wl.Serving)
    assess(Wl.Training)
    if (t.traced) checksPass()
  }

  /** A serving scorecard, then each check only the training scorecard
    * runs, the way the scorecard runs it: every scored check pays its
    * first-run costs here, not in the loop, for less than a second
    * cold scorecard costs.
    */
  override def warm(): Unit = {
    assess(Wl.Serving)
    val serving = Registry.forWorkload(Wl.Serving).map(_.key).toSet
    val trainingOnly = Registry.forWorkload(Wl.Training).map(_.key).toSet -- serving
    Checks.all.filter(ch => ch.isScore && trainingOnly(ch.name))
      .foreach(_.run(spark, data).collect())
  }

  private def assess(w: Wl): Unit = request { req =>
    val sc = t.op(s"scorecard.${w.name}", req) {
      val df = Assessor.scorecard(spark, data, w)
      (df, df.collect())
    }
    val levels = t.op("rollup", req) {
      Assessor.capabilityLevels(sc._1).collect()
    }
    scorecardOk(w, sc._2) && rollupOk(sc._2, levels)
  }

  private def scorecardOk(w: Wl, rows: Array[Row]): Boolean = {
    val want = expected.collect {
      case ((`sf`, wn, key), v) if wn == w.name => key -> v
    }
    val got = rows.map(r => r.getAs[String]("requirement") ->
      r.getAs[Double]("value")).toMap
    want.nonEmpty && got.keySet == want.keySet &&
      want.forall { case (k, v) => math.abs(got(k) - v) <= 1e-9 } &&
      rows.forall(r => r.getAs[Boolean]("passed") ==
        (r.getAs[Double]("value") >= r.getAs[Double]("threshold")))
  }

  private def rollupOk(rows: Array[Row], levels: Array[Row]): Boolean = {
    val byFactor = rows.groupBy(_.getAs[Int]("factor"))
    levels.length == byFactor.size && levels.forall { l =>
      val fr = byFactor(l.getAs[Int]("factor"))
      val rate = fr.count(_.getAs[Boolean]("passed")).toDouble / fr.length
      val lvl = if (rate >= 0.9) "L3" else if (rate >= 0.6) "L2" else "L1"
      l.getAs[Long]("n_checks") == fr.length &&
        math.abs(l.getAs[Double]("pass_rate") - rate) <= 1e-12 &&
        l.getAs[String]("level") == lvl
    }
  }

  private lazy val scored = {
    val keys = Registry.all.map(_.key).toSet
    Checks.all.filter(ch => ch.isScore && keys(ch.name))
      .sortBy(ch => (Registry.byKey(ch.name).factor.id, ch.name))
  }

  private def checksPass(): Unit = request { req =>
    t.op("checks", req) {
      scored.forall { ch =>
        val f = Registry.byKey(ch.name).factor.id
        val v = t.op(s"check.f$f", req)(ch.run(spark, data).collect())
        v.length == 1 && {
          val x = v.head.getAs[Double]("value"); x >= 0.0 && x <= 1.0
        }
      }
    }
  }
}

/** Write-heavy CDC lifecycle on the snapshot store: each step is one
  * merge-on-read MERGE of a seeded changelog window plus one head read;
  * every 4th step the pending sidecars are materialized and old
  * versions retired and purged, so reads and merges follow a 1..4..0
  * sidecar sawtooth. The client sends the changelog with full images,
  * as a CDC feed from an upstream system would. Updates, deletes and
  * inserts come in the proportions 2:1:1 of the engine's own
  * `snapshot_merge_mor` changelog; the window size (1,000 changes on a
  * 4,000-key range) is chosen, not measured.
  */
final class TableChurnWorkload(c: Ctx) extends Workload {
  import c._
  private val Window = 4000
  private val NUpd = 500
  private val NDel = 250
  private val NIns = 250
  private val StepsPerCycle = 4
  private val schema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("qty_i", LongType),
    StructField("price_i", LongType), StructField("op", StringType),
    StructField("seq", LongType)))

  private var root = ""
  private var head = 0L
  // the benchmark's own model of the table: key -> (qty_i, price_i)
  private val model = new java.util.TreeMap[java.lang.Long, (Long, Long)]()
  private var modelQty = 0L
  private var nextKey = 0L
  private val bytesRatio = mutable.ArrayBuffer[Double]()

  def build(r: String): Unit = {
    root = r
    head = 0L
    val base = CheckDsl.table(spark, data, "lineitem").groupBy("l_orderkey")
      .agg(sum(floor(col("l_quantity")).cast("long")).as("qty_i"),
        sum(floor(col("l_extendedprice")).cast("long")).as("price_i"))
    Layout.writeClustered(base, s"$root/d0", "l_orderkey", numFiles = 8)
    SnapshotStore.commit(spark, root, 0L, SnapshotStore.manifestForStats(
      spark, 0L, Seq(s"$root/d0"), Seq("l_orderkey")))
  }

  // the model's start: the keyed aggregate of the input table itself,
  // computed once and never read back from the store
  private lazy val baseRows = spark.read.parquet(s"$data/lineitem.parquet")
    .groupBy("l_orderkey")
    .agg(sum(floor(col("l_quantity")).cast("long")),
      sum(floor(col("l_extendedprice")).cast("long")))
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

  override def reset(): Unit = {
    model.clear()
    baseRows.foreach { case (k, q, p) => model.put(k, (q, p)) }
    modelQty = baseRows.map(_._2).sum
    nextKey = model.lastKey + 1
    bytesRatio.clear()
  }

  def cycle(): Unit = {
    (1 to StepsPerCycle).foreach(_ => request(step))
    request(compact)
  }

  private def step(req: Long): Boolean = {
    val changes = changelog(head + 1)
    val v = head + 1
    val (nKeys, nImages) = t.op("merge", req) {
      SnapshotStore.mergeCommitMor(spark, root, v, head, "l_orderkey",
        spark.createDataFrame(changes.asJava, schema),
        s"$root/del$v", s"$root/img$v")
    }
    head = v
    val got = t.op("read", req) {
      val df = t.op("read_plan", req)(SnapshotStore.readAt(spark, root, v))
      df.agg(count(lit(1)), sum(col("qty_i"))).head()
    }
    nKeys == NUpd + NDel + NIns && nImages == NUpd + NIns &&
      got.getLong(0) == model.size && got.getLong(1) == modelQty
  }

  /** A seeded changelog window: updates and deletes of live keys in a
    * random key range plus inserts of fresh keys; the model moves with it.
    */
  private def changelog(seq: Long): Seq[Row] = {
    val lo = rng.nextLong(math.max(1L, nextKey - Window))
    val live = model.subMap(lo, lo + Window).keySet.asScala.toVector
    val picked = rng.shuffle(live).take(NUpd + NDel)
    require(picked.size == NUpd + NDel, s"key window at $lo is too sparse")
    val upd = picked.take(NUpd).map { k =>
      val (q, p) = model.get(k)
      val (nq, np) = (q + 1 + rng.nextInt(50), p + rng.nextInt(1000))
      modelQty += nq - q
      model.put(k, (nq, np))
      Row(k.longValue, nq, np, "U", seq)
    }
    val del = picked.drop(NUpd).map { k =>
      val (q, p) = model.remove(k)
      modelQty -= q
      Row(k.longValue, q, p, "D", seq)
    }
    val ins = (0 until NIns).map { _ =>
      val (k, q, p) = (nextKey, 1L + rng.nextInt(200), rng.nextInt(100000).toLong)
      nextKey += 1
      model.put(k, (q, p))
      modelQty += q
      Row(k, q, p, "I", seq)
    }
    upd ++ del ++ ins
  }

  private def compact(req: Long): Boolean = {
    val v = head + 1
    t.op("compact", req) {
      SnapshotStore.materializeCommit(spark, root, v, head, "l_orderkey",
        s"$root/m$v", numFiles = 8)
      head = v
      bytesRatio += storeBytes(root).toDouble / storeBytes(s"$root/m$v")
      SnapshotStore.retire(spark, root, Seq(v))
      SnapshotStore.purgeRetired(spark, root)
    }
    SnapshotStore.committedVersions(spark, root) == Seq(v)
  }

  override def extra: Map[String, Double] =
    if (bytesRatio.isEmpty) Map.empty
    else Map("bytes_per_live_byte" -> Stats.median(bytesRatio.toSeq))

  private def storeBytes(dir: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
      .map(p => java.nio.file.Files.size(p)).sum
    finally s.close()
  }
}

/** Read-heavy serving loop on the vector artifact store: each request
  * loads one live version and ranks a seeded batch of 40 queries by ADC
  * top-K; a forget batch is published after every 3rd request and the
  * pending sidecars are compacted at the end of every cycle.
  */
final class VectorServeWorkload(c: Ctx) extends Workload {
  import c._
  private val K = 10
  private val Queries = 40
  private val ServesPerCycle = 6
  private val ForgetEvery = 3
  private val ForgetBatch = 20
  private val Dim = 64

  private var root = ""
  private var head = 0L
  // cumulative forgotten ids per committed version
  private val forgotten = mutable.HashMap[Long, Set[Long]]()

  private def embeddings: DataFrame =
    CheckDsl.table(spark, data, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  def build(r: String): Unit = {
    root = r
    head = 0L
    forgotten.clear()
    forgotten(0L) = Set.empty
    val e = embeddings
    val cents = IvfPq.servingCentroids(e, centroidMod = 23)
    val cb = PqIndex.codebookArrays(
      PqIndex.codebooks(e, "vec_id", "v", dim = Dim))
    val asg = IvfPq.probeCellsFrom(cents, e, "vec_id", "v", nProbe = 1)
      .select(col("qid").as("vec_id"), col("cell"))
    val codes = PqIndex.encode(e, "vec_id", "v", cb, dim = Dim)
      .join(asg, Seq("vec_id"))
    VectorArtifact.saveClustered(spark, root, 0L, Dim, cents, cb, codes)
  }

  private lazy val vectors: Map[Long, Array[Double]] = embeddings.collect()
    .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap

  private def batch(): DataFrame = {
    val ids = rng.shuffle(vectors.keys.toVector.sorted).take(Queries)
    spark.createDataFrame(
      ids.map(i => Row(i, vectors(i).toSeq)).asJava,
      StructType(Seq(StructField("qid", LongType),
        StructField("qv", ArrayType(DoubleType, containsNull = false)))))
  }

  private def serve(req: Long, v: Long, q: DataFrame): Array[Row] =
    t.op("serve", req) {
      val a = t.op("load", req)(VectorArtifact.load(spark, root, v))
      t.op("topk", req) {
        PqIndex.topK(a.codes, q, "qid", "qv", a.cb, dim = Dim, topK = K)
          .collect()
      }
    }

  private def rankOk(v: Long, rows: Array[Row]): Boolean = {
    val gone = forgotten(v)
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    byQ.size == Queries && byQ.forall { case (qid, rs) =>
      rs.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to K) &&
        rs.forall { r =>
          val cid = r.getAs[Long]("cid"); cid != qid && !gone(cid)
        }
    }
  }

  private def ranking(rows: Array[Row]): Seq[(Long, Long, Long)] =
    rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank"),
      r.getAs[Long]("cid"))).sorted.toSeq

  def cycle(): Unit = {
    (0 until ServesPerCycle).foreach { i =>
      request { req =>
        val v = if (i % 2 == 0 || head == 0L) head else head - 1
        rankOk(v, serve(req, v, batch()))
      }
      if (i % ForgetEvery == ForgetEvery - 1) request(forget)
    }
    // the compaction must not change what the index serves
    val q = batch()
    request { req =>
      val before = serve(req, head, q)
      val from = head
      t.op("compact", req) {
        VectorArtifact.compactPublish(spark, root, from + 1, from)
        retire()
      }
      head = from + 1
      forgotten(head) = forgotten(from)
      val after = serve(req, head, q)
      rankOk(from, before) && rankOk(head, after) &&
        ranking(before) == ranking(after)
    }
  }

  private def forget(req: Long): Boolean = {
    val gone = forgotten(head)
    val ids = rng.shuffle(vectors.keys.filterNot(gone).toVector.sorted)
      .take(ForgetBatch)
    val from = head
    val n = t.op("publish", req) {
      val n = VectorArtifact.deletePublishMor(spark, root, from + 1, from,
        spark.createDataFrame(ids.map(Row(_)).asJava,
          StructType(Seq(StructField("vec_id", LongType)))))
      retire()
      n
    }
    head = from + 1
    forgotten(head) = gone ++ ids
    n == ForgetBatch
  }

  /** Keep the two newest versions live; purge the rest. */
  private def retire(): Unit = {
    VectorArtifact.retire(spark, root, keepLatest = 2)
    VectorArtifact.purgeRetired(spark, root)
  }
}
