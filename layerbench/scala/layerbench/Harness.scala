package layerbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.util.{Random, Try}
import org.apache.spark.LayerbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col
import graft.{Force, SparkEntry}
import graft.ops.{Pipeline, Snapshot}
import graft.sources.Tables

/** One benchmark run: a closed loop with a single client thread that
  * calls the program's public entry points one op at a time.
  *
  * The run sets up, runs one cold pass, warm-up passes, then timed
  * passes until the time budget is spent, and finally writes each op's
  * result for the correctness check. A traced run alternates plain and
  * traced passes, so the tracing overhead is measured within one process.
  * Everything is written raw to `raw.json` (and `spans.json` when
  * traced); `run.py` computes the metrics.
  *
  * Arguments are `key=value` pairs; see `run.py`.
  */
object Harness {

  /** A session built exactly as `graft.Bench` builds it. */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", (1L << 20).toString)
      .config("spark.sql.files.openCostInBytes", (64L << 10).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("graft-bench-wh-").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val seed = a("seed").toLong
    val budget = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val ops = a("ops").split(',').toSeq

    // Set-up: from JVM start through session creation. The workloads
    // read uncached parquet, so there is no source preload.
    val spark = session(a("cpus"))
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val workload: Workload = a("workload") match {
      case "merge_ingest" =>
        new IngestWorkload(s"$work/state", a("batches"), ops)
      case _ => new QueryWorkload(a("data"), ops, seed)
    }

    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    val tracer = new Tracer(traced)
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]

    def runPass(kind: String, trace: Boolean): Map[String, Any] = {
      val idx = passes.size
      val calib = Probe.calibrate()
      val stat0 = Probe.procStat()
      val c0 = Probe.counters()
      val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
      val tr = if (trace) tracer else Workload.untraced
      val t0 = System.nanoTime()
      for (op <- workload.order(idx)) {
        tracer.op = s"$idx/$op"
        val s = System.nanoTime()
        val err = Try(tr.span("op")(workload.run(spark, op, idx, tr))).failed.toOption
        val lat = (System.nanoTime() - s) / 1e9
        Try(tr.span("ops.release")(Pipeline.releaseCaches()))
        ops += Map("op" -> op, "s" -> lat,
          "error" -> err.map(e => s"${e.getClass.getName}: ${e.getMessage}".take(300)))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setLocalProperty(Probe.TagKey, null)
      val c1 = Probe.counters()
      val stat1 = Probe.procStat()
      LayerbenchBridge.drainListeners(spark.sparkContext)
      val cachedB = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
      val rec = Map("idx" -> idx, "kind" -> kind, "traced" -> trace, "wall_s" -> wall,
        "calib_s" -> calib, "stat0" -> stat0, "stat1" -> stat1, "ops" -> ops,
        "counters" -> c1.map { case (k, v) => k -> (v - c0(k)) },
        "cached_b" -> cachedB) ++ probe.take() ++ workload.takePassStats()
      passes += rec
      rec
    }

    val phaseAt = mutable.LinkedHashMap("setup_end" -> System.nanoTime())
    runPass("cold", trace = false)
    phaseAt("cold_end") = System.nanoTime()

    // Retained memory after a full GC, taken after a fixed amount of work
    // (set-up and the cold pass) so it does not depend on how many timed
    // passes fit. The second collection also reclaims what Spark's context
    // cleaner released after the first. Untimed warm-up passes follow: the
    // JIT keeps speeding passes up for several passes after the cold one,
    // and the pass right after a full collection runs slow.
    System.gc()
    Thread.sleep(500)
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val offHeapStorage = spark.sparkContext.getRDDStorageInfo
      .map(i => i.diskSize + (if (i.storageLevel.useOffHeap) i.memSize else 0L)).sum
    for (_ <- 1 to a("warmups").toInt) runPass("warmup", trace = false)
    val t0 = System.nanoTime()
    var n = 0
    while (workload.canRun &&
        (n < 2 || (System.nanoTime() - t0) / 1e9 < budget)) {
      // traced runs alternate plain and traced passes
      val trace = traced && n % 2 == 1
      runPass(if (trace) "traced" else "timed", trace)
      n += 1
    }

    phaseAt("timed_end") = System.nanoTime()
    val resolve = if (traced) workload.resolveProbe(spark) else Seq.empty

    workload.writeFinalResults(spark, s"$work/out")
    val raw = Map(
      "setup_s" -> setupS, "passes" -> passes, "resolve_probe_s" -> resolve,
      "retained_b" -> (heap + offHeapStorage),
      "oracle" -> ops.flatMap(op => SparkEntry.oracleSql.get(op).map(op -> _)).toMap,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "max_heap_b" -> Runtime.getRuntime.maxMemory,
      "phase_s" -> phaseAt.map { case (k, t) => k -> (System.nanoTime() - t) / 1e9 })
    Files.writeString(Paths.get(s"$work/raw.json"), Json(raw))
    if (traced) Files.writeString(Paths.get(s"$work/spans.json"), Json(tracer.spans))
    spark.stop()
  }
}

/** What a workload does inside the loop the harness runs. */
trait Workload {
  /** The ops of pass `pass`, in the order they run. */
  def order(pass: Int): Seq[String]
  def run(spark: SparkSession, op: String, pass: Int, t: Tracer): Unit
  def canRun: Boolean = true
  /** After the timed passes: write each read op's result under `out`
    * for the check. A failure surfaces there as a missing output. */
  def writeFinalResults(spark: SparkSession, out: String): Unit
  /** Per-pass figures the workload keeps itself (reset on each call). */
  def takePassStats(): Map[String, Any] = Map.empty
  /** Per repetition, the summed time of a direct `Tables.load` for every
    * table read the ops made in one pass. */
  def resolveProbe(spark: SparkSession): Seq[Double]
}

object Workload {
  val untraced = new Tracer(false)

  /** The fixture tables a built query reads, once per scan. */
  def tableReads(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collectLeaves().flatMap {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
        case _ => Nil
      }
      case _ => Nil
    }

  /** Build a catalog entry, plan it and run it, one span per layer. */
  def runQuery(spark: SparkSession, dir: String, op: String, pass: Int,
      t: Tracer, reads: mutable.Map[String, Seq[String]]): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Probe.TagKey, s"$pass/$op/build")
    val df = t.span("queries.build")(SparkEntry.queries(op)(spark, dir))
    if (t.on) {
      t.span("plans.optimize")(df.queryExecution.optimizedPlan)
      t.span("plans.physical")(df.queryExecution.executedPlan)
      reads.getOrElseUpdate(op, tableReads(df))
    }
    sc.setLocalProperty(Probe.TagKey, s"$pass/$op/exec")
    t.span("exec")(Force.run(df))
  }

  /** Build `op` again and write its whole result as one ordered file. */
  def writeResult(spark: SparkSession, dir: String, op: String, out: String): Unit = {
    Try(SparkEntry.queries(op)(spark, dir).coalesce(1).write.parquet(s"$out/$op"))
    Pipeline.releaseCaches()
  }

  def timeLoads(spark: SparkSession, dir: String, tables: Seq[String]): Double = {
    val t0 = System.nanoTime()
    tables.foreach(Tables.load(spark, dir, _))
    (System.nanoTime() - t0) / 1e9
  }
}

/** Catalog entries over one fixture dir. The seed picks one permutation
  * of the ops, and every pass runs in that order: a fixed cycle through
  * more generated classes than Spark's code cache holds makes every pass
  * do the same compile work, where a fresh order per pass hits the cache
  * by chance. */
final class QueryWorkload(dir: String, ops: Seq[String], seed: Long) extends Workload {
  private val reads = mutable.Map.empty[String, Seq[String]]
  private val perm = new Random(seed * 1000003L).shuffle(ops)

  def order(pass: Int): Seq[String] = perm

  def run(spark: SparkSession, op: String, pass: Int, t: Tracer): Unit =
    Workload.runQuery(spark, dir, op, pass, t, reads)

  def writeFinalResults(spark: SparkSession, out: String): Unit =
    ops.foreach(Workload.writeResult(spark, dir, _, out))

  def resolveProbe(spark: SparkSession): Seq[Double] =
    (1 to 2).map(_ => Workload.timeLoads(spark, dir, ops.flatMap(reads.getOrElse(_, Nil))))
}

/** Writes beside reads. Each pass merges the next change batch into
  * `orders` with `Snapshot.merge`, writes the result as a new parquet
  * version and swaps it in under `orders.parquet`, then runs the
  * orders-reading catalog entries over the live state. `run.py` copies
  * the fixture tables into `state` before the JVM starts. */
final class IngestWorkload(state: String, batches: String, readOps: Seq[String])
    extends Workload {
  private val reads = mutable.Map.empty[String, Seq[String]]
  private var applied = 0
  private var written = Map("write_b" -> 0L, "write_files" -> 0L, "batch_b" -> 0L)

  private def batch(k: Int): File = new File(f"$batches/b$k%04d.parquet")
  private def orders: Path = Paths.get(state, "orders.parquet")

  private def delete(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(delete)
    f.delete()
  }

  def order(pass: Int): Seq[String] = "ingest" +: readOps

  override def canRun: Boolean = batch(applied).exists()

  def run(spark: SparkSession, op: String, pass: Int, t: Tracer): Unit =
    if (op != "ingest") Workload.runQuery(spark, state, op, pass, t, reads)
    else {
      val sc = spark.sparkContext
      val b = batch(applied)
      sc.setLocalProperty(Probe.TagKey, s"$pass/$op/build")
      val merged = t.span("write.merge") {
        val base = Tables.load(spark, state, "orders")
        val changes = spark.read.parquet(b.getPath)
        Snapshot.merge(base, changes, Seq("o_orderkey"), col("c.o_delete"))
      }
      sc.setLocalProperty(Probe.TagKey, s"$pass/$op/exec")
      val next = Paths.get(state, "orders.next")
      t.span("write.parquet") {
        merged.write.parquet(next.toString)
        val files = next.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        written = Map(
          "write_b" -> (written("write_b") + files.map(_.length).sum),
          "write_files" -> (written("write_files") + files.length),
          "batch_b" -> (written("batch_b") + b.length))
        val prev = Paths.get(state, "orders.prev")
        Files.move(orders, prev)
        Files.move(next, orders, StandardCopyOption.ATOMIC_MOVE)
        delete(prev.toFile)
      }
      applied += 1
    }

  override def takePassStats(): Map[String, Any] = {
    val out = written ++ Map("batches_applied" -> applied)
    written = written.map { case (k, _) => k -> 0L }
    out
  }

  def resolveProbe(spark: SparkSession): Seq[Double] =
    (1 to 2).map(_ => Workload.timeLoads(spark, state,
      Seq("orders") ++ readOps.flatMap(reads.getOrElse(_, Nil))))

  /** The read ops' results over the final state. */
  def writeFinalResults(spark: SparkSession, out: String): Unit =
    readOps.foreach(Workload.writeResult(spark, state, _, out))
}
