package perfbench

import graft.operators.{DBSCAN, JoinPredicate, KNN, SpatialJoin}
import graft.sources.{CellStore, IndexStore}
import org.apache.spark.PerfBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** A JSON object with ordered fields; values are numbers, strings,
  * booleans, sequences, maps and nested objects. */
final case class Obj(fields: (String, Any)*)

object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Obj => o.fields.map { case (k, x) => quote(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

/** One timed operation of a round. `label` names its exact inputs: two
  * calls with the same label must return the same rows. `params` is what
  * the independent check needs to recompute the answer. */
final case class Call(kind: String, label: String, params: Seq[(String, Any)],
                      checked: Boolean = true)(val run: () => Array[Row])

/** An untimed answer, checked like a timed one (the store's full-extent
  * conservation filter). */
final case class Extra(kind: String, label: String, params: Seq[(String, Any)], rows: Array[Row])

trait Workload {
  /** Rounds run and discarded before timing starts. */
  def warmup: Int
  /** Generates the inputs and builds what the rounds read. */
  def setup(): Unit
  /** The operation mix of round `r`; rounds are numbered from 0, warm-up included. */
  def round(r: Int): Seq[Call]
  /** Inputs as parquet directories, by name, for the checker. */
  def inputs: Seq[(String, String)]
  def finish(): Seq[Extra] = Nil
  /** Called after each traced call, outside its timing. */
  def traced(c: Call): Seq[(String, Any)] = Nil
}

/** Task-level counts per job group. One group per operation call. */
final class Acc {
  var tasks = 0L
  var taskMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var gcMs = 0L
  var bytesRead = 0L
  var bytesWritten = 0L
  val stageTaskMs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
  val jobStart = mutable.LinkedHashMap[Int, Long]()
  val jobEnd = mutable.HashMap[Int, Long]()
}

/** Attributes task metrics to the job group that ran them. Untraced runs
  * keep only shuffle write bytes; traced runs keep everything, including
  * job start and end times for the job spans. */
final class Meter(full: Boolean) extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  val groups = new ConcurrentHashMap[String, Acc]()

  def acc(g: String): Acc = groups.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      e.stageIds.foreach(stageGroup.put(_, g))
      jobGroup.put(e.jobId, g)
      if (full) { val a = acc(g); a.synchronized(a.jobStart(e.jobId) = e.time) }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (full) {
    val g = jobGroup.get(e.jobId)
    if (g != null) { val a = acc(g); a.synchronized(a.jobEnd(e.jobId) = e.time) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val a = acc(g)
      a.synchronized {
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        if (full) {
          a.tasks += 1
          a.taskMs += m.executorRunTime
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.gcMs += m.jvmGCTime
          a.bytesRead += m.inputMetrics.bytesRead
          a.bytesWritten += m.outputMetrics.bytesWritten
          a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
        }
      }
    }
  }
}

/** Planning and executed-plan figures of one finished Dataset action. */
final case class PlanStats(analysis: Double, optimizer: Double, physical: Double,
                           ruleS: Map[String, Double], rewrites: Long,
                           roundRobin: Long, genOut: Long, genIn: Long, filesRead: Long)

object Plans extends AdaptiveSparkPlanHelper {
  val Rules = Seq("SpatialJoinRule", "RangeJoinRule", "AsOfJoinRule", "CellPruneRule")

  private def rowsIn(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").orElse(p.metrics.get("shuffleRecordsWritten")) match {
      case Some(m) => m.value
      case None => p match {
        case s: QueryStageExec => rowsIn(s.plan)
        case a: AdaptiveSparkPlanExec => rowsIn(a.executedPlan)
        case _ => p.children.headOption.map(rowsIn).getOrElse(0L)
      }
    }

  def summarize(qe: QueryExecution): PlanStats = {
    val t = qe.tracker
    def phase(n: String): Double = t.phases.get(n).map(_.durationMs / 1000.0).getOrElse(0.0)
    val rules = Rules.map { r =>
      val hits = t.rules.filter { case (k, _) => k.endsWith("." + r) }.values
      r -> (hits.map(_.totalTimeNs).sum / 1e9, hits.map(_.numEffectiveInvocations).sum)
    }
    val plan = qe.executedPlan
    val rr = collect(plan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => 1
    }.size
    val gens = collect(plan) { case g: GenerateExec => g }
    val files = collect(plan) {
      case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    PlanStats(phase("analysis"), phase("optimization"), phase("planning"),
      rules.map { case (r, (s, _)) => r -> s }.toMap, rules.map(_._2._2).sum,
      rr, gens.map(_.metrics("numOutputRows").value).sum,
      gens.map(g => rowsIn(g.child)).sum, files)
  }
}

object PerfBench {
  private val NanoZero = System.nanoTime()
  private val EpochZeroMs = System.currentTimeMillis()

  /** Milliseconds since the epoch, at nanosecond resolution. */
  def epochMs(nano: Long): Double = EpochZeroMs + (nano - NanoZero) / 1e6

  /** The process's start: set-up time counts from here. */
  val ProcStartMs: Long = ProcessHandle.current().info().startInstant()
    .map[Long](_.toEpochMilli).orElse(EpochZeroMs)

  /** Progress line on stderr, stamped with seconds since the process started. */
  def note(msg: String): Unit = System.err.println(
    f"[perfbench] ${(System.currentTimeMillis() - ProcStartMs) / 1000.0}%.2f s: $msg")

  def dirStats(f: File): (Long, Long) =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
      .map(dirStats).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else (1L, f.length())

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work")).getAbsoluteFile

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "tmp").getPath)
      .config("spark.graft.join.cellSize", "500")
      .config("spark.graft.join.timeBucket", "-1")
      .config("spark.graft.join.asof", "true")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    note("session started")
    val meter = new Meter(trace)
    sc.addSparkListener(meter)
    val planQueue = new ConcurrentLinkedQueue[PlanStats]()
    if (trace) spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        planQueue.add(Plans.summarize(qe))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        planQueue.add(Plans.summarize(qe))
    })

    def make(name: String, dir: File): Workload = name match {
      case "batch" => new Batch(spark, dir, seed)
      case "sql" => new Sql(spark, dir, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (workload == "train") {
      // class-loading pass for the shared class archive: set-up and one
      // round of every workload, nothing measured
      Seq("batch", "sql").foreach { n =>
        val w = make(n, new File(work, n))
        w.setup()
        w.round(0).foreach(_.run())
        w.finish()
        note(s"trained on $n")
      }
      spark.stop()
      return
    }
    val wl = make(workload, work)
    wl.setup()
    note("set-up done")
    val setupS = (EpochZeroMs - ProcStartMs) / 1000.0 + (System.nanoTime() - NanoZero) / 1e9

    val outDir = new File(work, "out"); outDir.mkdirs()
    val firstDigest = mutable.HashMap[String, String]()
    val outputs = mutable.ArrayBuffer[Obj]()
    val mismatches = mutable.ArrayBuffer[String]()
    def record(kind: String, label: String, params: Seq[(String, Any)], rows: Array[Row]): Unit = {
      val lines = rows.map(r => (0 until r.length).map(i => String.valueOf(r.get(i))).mkString("\t")).sorted
      val md = java.security.MessageDigest.getInstance("MD5")
      lines.foreach(l => md.update((l + "\n").getBytes(StandardCharsets.UTF_8)))
      val digest = md.digest().map("%02x".format(_)).mkString
      firstDigest.get(label) match {
        case Some(d) =>
          if (d != digest) mismatches += s"$label: ${lines.length} rows differ from its first answer"
        case None =>
          firstDigest(label) = digest
          val f = new File(outDir, s"o${outputs.size}.tsv")
          Files.write(f.toPath, lines.mkString("", "\n", if (lines.isEmpty) "" else "\n")
            .getBytes(StandardCharsets.UTF_8))
          outputs += Obj("kind" -> kind, "label" -> label, "file" -> f.getPath,
            "rows" -> lines.length, "params" -> Obj(params: _*))
      }
    }

    // discarded rounds: the first round of every operation pays JIT and code
    // generation, and later ones keep getting faster while the JIT works
    val warmup = wl.warmup
    val rounds = mutable.ArrayBuffer[Obj]()
    val spans = mutable.ArrayBuffer[Obj]()
    var attempted = 0L
    var failed = 0L
    var callNo = 0
    var r = 0
    var measureStart = Long.MaxValue
    def measuring = r >= warmup
    // measured rounds run until `seconds` have passed; the last one is
    // finished, so every run measures at least one whole round
    while (r <= warmup || System.nanoTime() - measureStart < (seconds * 1e9).toLong) {
      if (r == warmup) measureStart = System.nanoTime()
      val calls = wl.round(r)
      val recs = mutable.ArrayBuffer[Obj]()
      val roundNano0 = System.nanoTime()
      var roundS = 0.0
      calls.foreach { c =>
        val group = s"c$callNo"
        callNo += 1
        sc.setJobGroup(group, c.label, interruptOnCancel = false)
        val t0 = System.nanoTime()
        val rows = try Some(c.run()) catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] ${c.label} failed: $e")
            None
        }
        val t1 = System.nanoTime()
        sc.clearJobGroup()
        val secs = (t1 - t0) / 1e9
        roundS += secs
        if (measuring) { attempted += 1; if (rows.isEmpty) failed += 1 }
        if (c.checked) rows.foreach(rs => record(c.kind, c.label, c.params, rs))
        val extra: Seq[(String, Any)] =
          if (!trace) Nil
          else {
            PerfBenchBus.drain(sc)
            val ps = Iterator.continually(planQueue.poll()).takeWhile(_ != null).toSeq
            val a = meter.acc(group)
            val opId = s"op$callNo"
            spans += Obj("id" -> opId, "parent" -> s"round$r", "name" -> c.kind,
              "label" -> c.label, "start_ms" -> epochMs(t0), "end_ms" -> epochMs(t1))
            a.synchronized {
              a.jobStart.foreach { case (j, s) =>
                spans += Obj("id" -> s"job$j", "parent" -> opId, "name" -> "spark_job",
                  "start_ms" -> s.toDouble,
                  "end_ms" -> a.jobEnd.getOrElse(j, s).toDouble)
              }
              val slowest = a.stageTaskMs.values.toSeq.sortBy(-_.sum).headOption
              val skew = slowest.map { ts =>
                val s = ts.sorted
                s.last.toDouble / math.max(s(s.length / 2), 1L)
              }.getOrElse(0.0)
              Seq("jobs" -> a.jobStart.size, "tasks" -> a.tasks, "task_s" -> a.taskMs / 1e3,
                "task_skew" -> skew, "shuffle_bytes" -> a.shuffleWrite, "spill_bytes" -> a.spill,
                "gc_s" -> a.gcMs / 1e3, "bytes_read" -> a.bytesRead,
                "bytes_written" -> a.bytesWritten,
                "output_rows" -> rows.map(_.length).getOrElse(0),
                "analysis_s" -> ps.map(_.analysis).sum,
                "optimizer_s" -> ps.map(_.optimizer).sum,
                "physical_s" -> ps.map(_.physical).sum,
                "rule_s" -> Plans.Rules.map(n => n -> ps.map(_.ruleS(n)).sum).toMap,
                "rewrites" -> ps.map(_.rewrites).sum,
                "roundrobin_exchanges" -> ps.map(_.roundRobin).sum,
                "generate_out" -> ps.map(_.genOut).sum, "generate_in" -> ps.map(_.genIn).sum,
                "files_read" -> ps.map(_.filesRead).sum) ++ wl.traced(c)
            }
          }
        recs += Obj(Seq("kind" -> c.kind, "label" -> c.label, "group" -> group,
          "s" -> secs, "ok" -> rows.isDefined) ++ extra: _*)
      }
      if (trace) spans += Obj("id" -> s"round$r", "parent" -> null, "name" -> "round",
        "start_ms" -> epochMs(roundNano0), "end_ms" -> epochMs(System.nanoTime()))
      rounds += Obj("round" -> r, "warmup" -> !measuring, "s" -> roundS, "calls" -> recs)
      note(f"round $r: $roundS%.2f s")
      r += 1
    }
    val measureS = (System.nanoTime() - measureStart) / 1e9

    wl.finish().foreach(e => record(e.kind, e.label, e.params, e.rows))
    PerfBenchBus.drain(sc)
    val shuffle = meter.groups.asScala.map { case (g, a) => g -> a.synchronized(a.shuffleWrite) }

    val result = Obj(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "setup_s" -> setupS, "measure_s" -> measureS, "warmup_rounds" -> warmup,
      "attempted" -> attempted, "failed" -> failed,
      "inputs" -> Obj(wl.inputs: _*),
      "rounds" -> rounds, "shuffle_bytes" -> shuffle,
      "outputs" -> outputs, "mismatches" -> mismatches)
    Files.write(new File(work, "result.json").toPath, Json(result).getBytes(StandardCharsets.UTF_8))
    if (trace) Files.write(new File(work, "spans.json").toPath,
      Json(spans).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Seeded input generation. Coordinates are integers, so every predicate
  * the checker recomputes (containment, squared distance, kNN order) is
  * exact. Points are `hotShare` Gaussian hotspots plus a uniform
  * background. */
final class Gen(seed: Long, salt: Int, val span: Int) {
  private val rnd = new Random(seed * 1000003L + salt)
  /** Eight hotspot centres, one per cell of a 4 x 2 grid, jittered within
    * the middle half of their cell: hotspots never overlap, so the seed
    * moves them without changing how much work the inputs make. */
  val hotspots: Array[(Double, Double)] = Array.tabulate(8) { i =>
    val (w, h) = (span / 4.0, span / 2.0)
    ((i % 4 + 0.25 + 0.5 * rnd.nextDouble()) * w, (i / 4 + 0.25 + 0.5 * rnd.nextDouble()) * h)
  }

  private def clamp(v: Double): Int = math.max(0, math.min(span - 1, math.round(v).toInt))

  def points(n: Int, hotShare: Double, sigma: Double): Array[Row] =
    Array.tabulate(n) { i =>
      if (rnd.nextDouble() < hotShare) {
        val (cx, cy) = hotspots(rnd.nextInt(hotspots.length))
        Row(i.toLong, clamp(cx + rnd.nextGaussian() * sigma), clamp(cy + rnd.nextGaussian() * sigma))
      } else Row(i.toLong, rnd.nextInt(span), rnd.nextInt(span))
    }

  def boxes(n: Int, sigma: Double, minSide: Int, maxSide: Int): Array[Row] =
    Array.tabulate(n) { i =>
      val (cx, cy) =
        if (i % 2 == 0) {
          val (hx, hy) = hotspots(rnd.nextInt(hotspots.length))
          (hx + rnd.nextGaussian() * sigma, hy + rnd.nextGaussian() * sigma)
        } else (rnd.nextInt(span).toDouble, rnd.nextInt(span).toDouble)
      val w = minSide + rnd.nextInt(maxSide - minSide + 1)
      val h = minSide + rnd.nextInt(maxSide - minSide + 1)
      val x0 = math.max(0, math.min(span - 1 - w, math.round(cx - w / 2.0).toInt))
      val y0 = math.max(0, math.min(span - 1 - h, math.round(cy - h / 2.0).toInt))
      Row(i.toLong, x0, y0, x0 + w, y0 + h)
    }

  /** Closed time intervals [s, e] with s < e, for the range join. */
  def intervals(n: Int, tSpan: Int, minLen: Int, maxLen: Int): Array[Row] =
    Array.tabulate(n) { i =>
      val s = rnd.nextInt(tSpan).toLong
      Row(i.toLong, s, s + minLen + rnd.nextInt(maxLen - minLen + 1))
    }

  /** Keyed events with distinct (key, t) pairs, for the as-of join. */
  def events(n: Int, keys: Int, tSpan: Int, idBase: Long): Array[Row] = {
    val seen = mutable.HashSet[(Int, Long)]()
    Array.tabulate(n) { i =>
      var k = 0; var t = 0L
      do { k = rnd.nextInt(keys); t = rnd.nextInt(tSpan).toLong } while (!seen.add((k, t)))
      Row(idBase + i, k.toLong, t)
    }
  }

  def nextInt(n: Int): Int = rnd.nextInt(n)
}

object Data {
  val PointSchema = StructType(Seq(StructField("id", LongType, false),
    StructField("x", IntegerType, false), StructField("y", IntegerType, false)))
  val BoxSchema = StructType(Seq(StructField("id", LongType, false),
    StructField("x0", IntegerType, false), StructField("y0", IntegerType, false),
    StructField("x1", IntegerType, false), StructField("y1", IntegerType, false)))
  val IntervalSchema = StructType(Seq(StructField("id", LongType, false),
    StructField("s", LongType, false), StructField("e", LongType, false)))
  def eventSchema(id: String, k: String, t: String): StructType = StructType(Seq(
    StructField(id, LongType, false), StructField(k, LongType, false), StructField(t, LongType, false)))

  /** Writes `rows` as parquet in `files` files and reads them back. */
  def write(spark: SparkSession, rows: Array[Row], schema: StructType, path: File,
            files: Int): DataFrame = {
    // a local relation splits into up to defaultParallelism slices, so
    // coalescing gives exactly `files` files without a shuffle
    spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(files)
      .write.mode("overwrite").parquet(path.getPath)
    spark.read.schema(schema).parquet(path.getPath)
  }

  def sizeOf(path: File): Long = PerfBench.dirStats(path)._2
}

/** Batch operators and an index-store rebuild over a single-file clustered
  * point set and box set. */
final class Batch(spark: SparkSession, work: File, seed: Long) extends Workload {
  val N = 6000; val M = 300; val Span = 100000; val Sigma = 400.0
  val Cell = 2000.0; val Dist = 60; val DistCell = 240.0; val K = 5; val KnnEvery = 24
  val Eps = 80; val MinPts = 6; val StoreCell = 2500.0
  val warmup = 2
  private val ptsPath = new File(work, "data/points")
  private val boxPath = new File(work, "data/boxes")
  private val rebuilt = new File(work, "store_rebuild").getPath
  private var pts: DataFrame = _
  private var p, q, b, qk: DataFrame = _

  def inputs: Seq[(String, String)] = Seq("points" -> ptsPath.getPath, "boxes" -> boxPath.getPath)

  def setup(): Unit = {
    val g = new Gen(seed, 1, Span)
    pts = Data.write(spark, g.points(N, 0.6, Sigma), Data.PointSchema, ptsPath, 1)
    val boxes = Data.write(spark, g.boxes(M, 2 * Sigma, 200, 2000), Data.BoxSchema, boxPath, 1)
    p = pts.select(col("id").as("pid"), col("x").as("px"), col("y").as("py"))
      .withColumn("pgeo", expr("st_point(px, py)"))
    q = pts.select(col("id").as("qid"), col("x").as("qx"), col("y").as("qy"))
      .withColumn("qgeo", expr("st_point(qx, qy)"))
    qk = q.filter(col("qid") % KnnEvery === 0)
    b = boxes.select(col("id").as("bid"), col("x0").as("bx0"), col("y0").as("by0"),
        col("x1").as("bx1"), col("y1").as("by1"))
      .withColumn("bgeo", expr("st_box(bx0, by0, bx1, by1)"))
  }

  def round(r: Int): Seq[Call] = Seq(
    Call("spatial_join", "spatial_join", Seq()) { () =>
      SpatialJoin.join(b, p, col("bgeo"), col("pgeo"), JoinPredicate.Contains, Cell)
        .select("bid", "pid").collect()
    },
    Call("indexed_join", "indexed_join", Seq()) { () =>
      SpatialJoin.joinIndexed(b, p, "bgeo", "pgeo", JoinPredicate.Contains, Cell)
        .select("bid", "pid").collect()
    },
    Call("distance_join", "distance_join", Seq("d" -> Dist)) { () =>
      SpatialJoin.distanceJoin(p, q, col("pgeo"), col("qgeo"), Dist, DistCell)
        .select("pid", "qid").collect()
    },
    Call("knn_join", "knn_join", Seq("k" -> K, "every" -> KnnEvery)) { () =>
      KNN.knnJoin(qk, p, "qgeo", "pgeo", "qid", K, tieBreak = "pid")
        .select("qid", "pid").collect()
    },
    Call("dbscan", "dbscan", Seq("eps" -> Eps, "min_pts" -> MinPts)) { () =>
      DBSCAN.model(pts, col("id"), col("x"), col("y"), Eps, MinPts)
        .select("id", "cluster_id", "is_core").collect()
    },
    // the rebuilt store is checked by the full-extent filter in finish()
    Call("build", "build", Seq(), checked = false) { () =>
      IndexStore.saveIndexed(pts.withColumn("geo", expr("st_point(x, y)")), rebuilt, "geo", StoreCell)
      Array.empty[Row]
    })

  override def traced(c: Call): Seq[(String, Any)] =
    if (c.kind != "build") Nil
    else {
      val (files, bytes) = PerfBench.dirStats(new File(rebuilt))
      Seq("store_files" -> files, "store_bytes" -> bytes, "input_bytes" -> Data.sizeOf(ptsPath))
    }

  /** Conservation: a filter over the whole extent of the last rebuilt
    * store returns every input row. */
  override def finish(): Seq[Extra] = Seq(Extra("full_extent", "full_extent/rebuilt", Seq(),
    IndexStore.filter(spark, rebuilt, Wkt.box(-1, -1, Span, Span), JoinPredicate.ContainedBy)
      .select("id", "x", "y").collect()))
}

/** Small queries: SQL statements through the rewrite rules, then window
  * and kNN lookups against an index store built at set-up, inputs spread
  * over four files each. Half the statements repeat verbatim every round;
  * the other half change a constant each round, which changes a join
  * side's plan and so misses the rules' plan-time memos. The lookups are
  * the same every round, one of each kind on a hotspot and one anywhere. */
final class Sql(spark: SparkSession, work: File, seed: Long) extends Workload {
  val Span = 20000; val Files = 4; val Dist = 150; val Lookback = 5000; val Window = 3000
  val Mod = 997; val StoreCell = 2500.0; val LookupWindow = 2000; val K = 10
  // the planner's code takes many rounds to be JIT-compiled: with two
  // discarded rounds, the measured rounds still ran 10-30% slower than later
  // ones, by an amount that varied with the host's load
  val warmup = 5
  private val data = new File(work, "data")
  private def path(n: String) = new File(data, n)
  private val rnd = new Random(seed * 7919L + 3)
  private val served = new File(work, "store").getPath
  private var windows: IndexedSeq[(Int, Int)] = _
  private var lookupWindows, probes: Seq[(Int, Int)] = _

  def inputs: Seq[(String, String)] =
    Seq("pts_s", "boxes_s", "ivl", "ivr", "aoc", "aov").map(n => n -> path(n).getPath)

  def setup(): Unit = {
    val g = new Gen(seed, 2, Span)
    def view(df: DataFrame, n: String): Unit = df.createOrReplaceTempView(n)
    // rows are generated in a fixed order; the six writes then run as
    // concurrent Spark jobs
    val tables = Seq(
      ("pts_s", g.points(4000, 0.6, 400), Data.PointSchema),
      ("boxes_s", g.boxes(300, 800, 100, 1200), Data.BoxSchema),
      ("ivl", g.intervals(3000, 1000000, 50, 2000), Data.IntervalSchema),
      ("ivr", g.intervals(3000, 1000000, 50, 2000), Data.IntervalSchema),
      ("aoc", g.events(3000, 50, 200000, 0L), Data.eventSchema("id_a", "ua", "ta")),
      ("aov", g.events(6000, 50, 200000, 100000L), Data.eventSchema("id_b", "ub", "tb")))
    import scala.concurrent.ExecutionContext.Implicits.global
    val written = scala.concurrent.Future.sequence(tables.map { case (n, rows, schema) =>
      scala.concurrent.Future(n -> Data.write(spark, rows, schema, path(n), Files))
    })
    val dfs = scala.concurrent.Await.result(written, scala.concurrent.duration.Duration.Inf).toMap
    dfs.foreach { case (n, df) => view(df, n) }
    val pts = dfs("pts_s")
    val cstore = new File(work, "cellstore").getPath
    CellStore.save(pts.withColumn("c_geo", expr("st_point(x, y)")), cstore,
      col("x"), col("y"), 5000.0, geomCol = Some("c_geo"))
    view(CellStore.load(spark, cstore), "cstore")
    windows = IndexedSeq.fill(4096)((rnd.nextInt(Span - Window), rnd.nextInt(Span - Window)))
    def places(): Seq[(Int, Int)] = {
      val (hx, hy) = g.hotspots(g.nextInt(g.hotspots.length))
      Seq((hx.toInt + g.nextInt(LookupWindow) - LookupWindow / 2,
           hy.toInt + g.nextInt(LookupWindow) - LookupWindow / 2), (g.nextInt(Span), g.nextInt(Span)))
    }
    lookupWindows = places()
    probes = places()
    IndexStore.saveIndexed(pts.withColumn("geo", expr("st_point(x, y)")), served, "geo", StoreCell)
  }

  private def asof(left: String): String =
    "SELECT id_a, id_b FROM (SELECT c.id_a, v.id_b, row_number() OVER " +
    "(PARTITION BY c.id_a ORDER BY v.tb DESC, v.id_b DESC) AS rn " +
    s"FROM $left c JOIN aov v ON v.ub = c.ua AND v.tb <= c.ta AND v.tb > c.ta - $Lookback" +
    ") WHERE rn = 1"

  private def stmt(kind: String, label: String, params: Seq[(String, Any)], sql: String): Call =
    Call(kind, label, params :+ ("sql" -> sql))(() => spark.sql(sql).collect())

  def round(r: Int): Seq[Call] = {
    val c = r % Mod
    val (wx, wy) = windows(r % windows.length)
    val wkt = s"POLYGON (($wx $wy, ${wx + Window} $wy, ${wx + Window} ${wy + Window}, " +
      s"$wx ${wy + Window}, $wx $wy))"
    Seq(
      stmt("contains_join", "contains_join", Seq(),
        "SELECT b.id AS a, p.id AS b FROM boxes_s b JOIN pts_s p " +
        "ON st_contains(st_box(b.x0, b.y0, b.x1, b.y1), st_point(p.x, p.y))"),
      stmt("within_distance_join", s"within_distance_join/$c", Seq("d" -> Dist, "mod" -> Mod, "c" -> c),
        s"SELECT p.id AS a, q.id AS b FROM (SELECT * FROM pts_s WHERE id % $Mod <> $c) p " +
        s"JOIN pts_s q ON st_within_distance(st_point(p.x, p.y), st_point(q.x, q.y), $Dist)"),
      stmt("range_join", "range_join", Seq("mod" -> Mod, "c" -> -1),
        "SELECT l.id AS a, r.id AS b FROM ivl l JOIN ivr r ON l.s <= r.e AND r.s <= l.e"),
      stmt("range_join", s"range_join/$c", Seq("mod" -> Mod, "c" -> c),
        s"SELECT l.id AS a, r.id AS b FROM (SELECT * FROM ivl WHERE id % $Mod <> $c) l " +
        "JOIN ivr r ON l.s <= r.e AND r.s <= l.e"),
      stmt("asof_join", "asof_join", Seq("lookback" -> Lookback, "mod" -> Mod, "c" -> -1),
        asof("aoc")),
      stmt("asof_join", s"asof_join/$c", Seq("lookback" -> Lookback, "mod" -> Mod, "c" -> c),
        asof(s"(SELECT * FROM aoc WHERE id_a % $Mod <> $c)")),
      stmt("cell_window", s"cell_window/$r", Seq("x0" -> wx, "y0" -> wy,
          "x1" -> (wx + Window), "y1" -> (wy + Window)),
        s"SELECT id AS a FROM cstore WHERE st_containedby(c_geo, st_geomfromwkt('$wkt'))"),
      stmt("equi_join", "equi_join", Seq(),
        "SELECT c.ua AS k, count(*) AS n FROM aoc c JOIN aov v ON c.ua = v.ub GROUP BY c.ua")) ++
    lookupWindows.zipWithIndex.map { case ((x, y), i) =>
      val (x0, y0, x1, y1) = (x - LookupWindow / 2, y - LookupWindow / 2,
        x + LookupWindow / 2, y + LookupWindow / 2)
      Call("filter", s"filter/$i", Seq("x0" -> x0, "y0" -> y0, "x1" -> x1, "y1" -> y1)) { () =>
        IndexStore.filter(spark, served, Wkt.box(x0, y0, x1, y1), JoinPredicate.ContainedBy)
          .select("id").collect()
      }
    } ++
    probes.zipWithIndex.map { case ((x, y), i) =>
      Call("knn", s"knn/$i", Seq("qx" -> x, "qy" -> y, "k" -> K)) { () =>
        IndexStore.knn(spark, served, x, y, K, tieBreak = Seq("id")).select("id").collect()
      }
    }
  }

  /** Conservation: a filter over the whole extent of the served store
    * returns every input row. */
  override def finish(): Seq[Extra] = Seq(Extra("full_extent", "full_extent/served", Seq(),
    IndexStore.filter(spark, served, Wkt.box(-1, -1, Span, Span), JoinPredicate.ContainedBy)
      .select("id", "x", "y").collect()))
}

/** A box as WKT, for the store lookups. */
object Wkt {
  def box(x0: Int, y0: Int, x1: Int, y1: Int): String =
    s"POLYGON (($x0 $y0, $x1 $y0, $x1 $y1, $x0 $y1, $x0 $y0))"
}
