package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The benchmark's JVM side: one closed-loop client driving one
  * workload against graft through its public entry points.
  *
  * A run is
  *  1. the set-up: a session (`GraftSession.local`) in fresh tmp, Spark
  *     local and warehouse dirs, a first job and Bench's warm-up reads.
  *     `setup_s` is the time from the JVM's start to the first timed op;
  *  2. the measured region: whole passes over the ops, one and then
  *     more until `seconds` have passed. Every op is timed phase by
  *     phase. The first pass is the process's first run
  *     of each op, so it pays JIT compilation and any index build a cold
  *     process pays, as a freshly submitted job does; it runs the ops in
  *     their listed order, so that every run pays those costs in the same
  *     places. Later passes run them in an order permuted by `seed`. A
  *     traced run records these passes with a [[Tracer]];
  *  3. in a traced run, a probe pass that runs every op once traced and
  *     once not, which gives the tracing overhead;
  *  4. untimed output checks: the workload's per-pass checks and, when
  *     `hash=1`, content hashes of the query ops' outputs.
  * Everything measured is written to `out` as one JSON object, which
  * `run.py` turns into metrics.
  *
  * Arguments are `key=value`: run, out, cores, seed, seconds, trace,
  * hash; for query ops: data, ops (a file of registry names, one a line)
  * and warm (the tables the warm-up reads); for ingest ops: initial and
  * batches (a file of `path|rows|bytes` lines).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = args.map { kv =>
      val i = kv.indexOf('=')
      kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val runDir = a("run")
    val cores = a("cores").toInt
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    // the tracer names a job's module from its long call site; keep the
    // whole stack so deep trainer stacks still reach their graft frame
    if (trace) System.setProperty("spark.callstack.depth", "1000")
    val lines = (f: String) => Files.readAllLines(Paths.get(f)).toArray
      .map(_.toString.trim).filter(_.nonEmpty).toVector
    val parts = a.get("ops").map(ops => new Queries(a("data"), lines(ops),
        a("warm").split(',').toSeq.filter(_.nonEmpty))).toSeq ++
      a.get("batches").map(b => new Ingest(a("initial"),
        lines(b).map(_.split('|')).map(p => Batch(p(0), p(1).toLong, p(2).toLong)),
        runDir)).toSeq
    val workload = new Mixed(parts)

    // ---- set-up
    Seq("tmp", "local", "warehouse").foreach(d => new File(s"$runDir/$d").mkdirs())
    System.setProperty("java.io.tmpdir", s"$runDir/tmp")
    System.setProperty("spark.local.dir", s"$runDir/local")
    System.setProperty("spark.sql.warehouse.dir", s"$runDir/warehouse")
    val t0 = System.nanoTime
    val spark = graft.GraftSession.local(cores)
    spark.sparkContext.setLogLevel("WARN")
    val t1 = System.nanoTime
    spark.range(1000).selectExpr("sum(id)").collect()
    workload.warm(spark)
    val t2 = System.nanoTime
    val sc = spark.sparkContext
    val tracer = new Tracer
    if (trace) sc.addSparkListener(tracer)
    val tmpDir = new File(sys.props("java.io.tmpdir"))
    def cacheDirs(): Set[String] =
      Option(tmpDir.list()).toSet.flatten.filter(_.startsWith("graft_"))

    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    /** One pass over the ops; `runs(i)` gives the tracing flag of each run
      * of the i-th op. */
    def runPass(kind: String)(runs: Int => Seq[Boolean]): Unit = {
      val pass = passes.size + 1
      val p0 = System.nanoTime
      workload.startPass(spark)
      val order =
        if (pass == 1) workload.ops
        else new scala.util.Random(seed * 1000003L + pass).shuffle(workload.ops)
      for ((op, i) <- order.zipWithIndex; traced <- runs(i)) {
        BusDrain(sc)
        tracer.enabled = traced
        val phases = new Phases
        val before = cacheDirs()
        val pinnedBefore = sc.getPersistentRDDs.keySet
        val start = System.currentTimeMillis
        val t0 = System.nanoTime
        val result = try workload.run(spark, op, phases) catch {
          case e: Throwable => Map("error" -> s"${e.getClass.getName}: ${e.getMessage}".take(400))
        }
        val dt = (System.nanoTime - t0) / 1e9
        val end = System.currentTimeMillis
        // Bench's isolation: free the persistent RDDs this op added
        val added = sc.getPersistentRDDs.filter { case (id, _) => !pinnedBefore(id) }
        added.values.foreach(_.unpersist(blocking = false))
        val built = cacheDirs() -- before
        samples += result ++ Map("op" -> op, "pass" -> pass, "traced" -> traced,
          "seconds" -> dt, "start_ms" -> start, "end_ms" -> end,
          "phases" -> phases.recorded, "pinned_rdds" -> added.size,
          "index_builds" -> built.size)
      }
      BusDrain(sc)
      tracer.enabled = false
      val seconds = (System.nanoTime - p0) / 1e9
      passes += Map("pass" -> pass, "kind" -> kind, "seconds" -> seconds) ++
        workload.endPass(spark)
    }

    val seconds = a("seconds").toDouble
    val setupS = (System.currentTimeMillis - jvmStartMs) / 1e3
    val region0 = System.nanoTime
    def elapsed = (System.nanoTime - region0) / 1e9
    do runPass("measured")(_ => Seq(trace)) while (elapsed < seconds)
    val regionS = elapsed
    // an untraced and a traced run of every op, untraced first for every
    // second op, so warming largely cancels out of the tracing overhead
    if (trace) runPass("probe")(i => if (i % 2 == 0) Seq(false, true) else Seq(true, false))

    // ---- untimed output checks
    val content = if (a("hash") == "1") workload.contentHashes(spark) else Map.empty
    val jobs = tracer.recorded.map { j =>
      Map("id" -> j.id, "submit_ms" -> j.submitMs, "end_ms" -> j.endMs,
        "site" -> j.site, "module" -> tracer.moduleOf(j),
        "stages" -> j.stages, "tasks" -> j.tasks, "run_ms" -> j.runMs,
        "gc_ms" -> j.gcMs, "sched_delay_ms" -> j.schedDelayMs,
        "fetch_wait_ms" -> j.fetchWaitMs, "input_bytes" -> j.inputBytes,
        "shuffle_read_bytes" -> j.shuffleReadBytes,
        "shuffle_write_bytes" -> j.shuffleWriteBytes,
        "spill_mem_bytes" -> j.spillMemBytes, "spill_disk_bytes" -> j.spillDiskBytes,
        "output_bytes" -> j.outputBytes, "output_records" -> j.outputRecords,
        "peak_task_mem_bytes" -> j.peakTaskMemBytes,
        "task_shuffle_reads" -> j.taskShuffleReads.toVector)
    }
    val result = Map(
      "setup" -> Map("setup_s" -> setupS, "build_s" -> (t1 - t0) / 1e9,
        "warm_s" -> (t2 - t1) / 1e9), "region_s" -> regionS,
      "passes" -> passes.toVector, "samples" -> samples.toVector,
      "content" -> content, "jobs" -> jobs, "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "avail_procs" -> Runtime.getRuntime.availableProcessors,
      "peak_rss_mb" -> peakRssMb())
    spark.stop()
    val out = Paths.get(a("out"))
    val tmp = Paths.get(a("out") + ".tmp")
    Files.writeString(tmp,
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(result))
    Files.move(tmp, out, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val status = new File("/proc/self/status")
    if (!status.exists) return -1
    val src = scala.io.Source.fromFile(status)
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  }
}

/** Times the phases of one op, keeping each phase's wall-clock window so
  * the traced run can attribute each job to the phase that launched it. */
final class Phases {
  private val buf = mutable.ArrayBuffer.empty[Map[String, Any]]
  def recorded: Vector[Map[String, Any]] = buf.toVector
  def apply[T](name: String)(body: => T): T = {
    val start = System.currentTimeMillis
    val t0 = System.nanoTime
    try body finally {
      buf += Map("name" -> name, "seconds" -> (System.nanoTime - t0) / 1e9,
        "start_ms" -> start, "end_ms" -> System.currentTimeMillis)
    }
  }
}

trait Workload {
  def ops: Vector[String]
  /** Bench-style warm-up reads after the session is built. */
  def warm(spark: SparkSession): Unit
  def startPass(spark: SparkSession): Unit = ()
  /** Run one op through its phases; returns what it measured. */
  def run(spark: SparkSession, op: String, phase: Phases): Map[String, Any]
  def endPass(spark: SparkSession): Map[String, Any] = Map.empty
  def contentHashes(spark: SparkSession): Map[String, Any] = Map.empty
}

/** Several workloads' ops interleaved in one pass. */
final class Mixed(parts: Seq[Workload]) extends Workload {
  val ops: Vector[String] = parts.flatMap(_.ops).toVector
  private val owner = parts.flatMap(p => p.ops.map(_ -> p)).toMap
  def warm(spark: SparkSession): Unit = parts.foreach(_.warm(spark))
  override def startPass(spark: SparkSession): Unit = parts.foreach(_.startPass(spark))
  def run(spark: SparkSession, op: String, phase: Phases): Map[String, Any] =
    owner(op).run(spark, op, phase)
  override def endPass(spark: SparkSession): Map[String, Any] =
    parts.map(_.endPass(spark)).foldLeft(Map.empty[String, Any])(_ ++ _)
  override def contentHashes(spark: SparkSession): Map[String, Any] =
    parts.map(_.contentHashes(spark)).foldLeft(Map.empty[String, Any])(_ ++ _)
}

/** Registry entries under Bench's protocol: construct the frame through
  * `SparkEntry.queries`, plan it (`executedPlan`), execute every output
  * row of the physical plan (`toRdd.count()`). */
final class Queries(data: String, val ops: Vector[String], warmTables: Seq[String])
    extends Workload {

  /** Bench's warm-up: one row of each named table. */
  def warm(spark: SparkSession): Unit = warmTables.foreach { t =>
    if (t == "events") graft.Tables.events(spark, data).limit(1).collect()
    else spark.read.parquet(s"$data/$t.parquet").limit(1).collect()
  }

  def run(spark: SparkSession, op: String, phase: Phases): Map[String, Any] = {
    val fn = graft.SparkEntry.queries(op)
    val df = phase("construct")(fn(spark, data))
    val qe = df.queryExecution
    phase("plan")(qe.executedPlan)
    val rows = phase("exec")(qe.toRdd.count())
    val catalyst = qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
    Map("rows" -> rows, "catalyst" -> catalyst)
  }

  /** Order-independent content hash of the output of each op that has a
    * registry oracle: the row count and the sum of a 64-bit hash of every
    * row's JSON form. */
  override def contentHashes(spark: SparkSession): Map[String, Any] =
    ops.filter(graft.SparkEntry.oracleSql.contains).distinct.map { op =>
      op -> (try {
        val df = graft.SparkEntry.queries(op)(spark, data)
        val h = xxhash64(to_json(struct(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)))
        val r = df.agg(count(lit(1)), sum(h.cast("decimal(20,0)")).cast("string")).head()
        Map("rows" -> r.getLong(0), "hash" -> Option(r.getString(1)).getOrElse("0"))
      } catch { case e: Throwable => Map("error" -> String.valueOf(e.getMessage).take(400)) })
    }.toMap
}

final case class Batch(path: String, rows: Long, bytes: Long)

/** The reference's load path: a pipe-delimited extract read with
  * `DelimitedSource.read` and typed, upserted into the referrals table
  * with `UpsertSink.mergeBatch` on its primary key, then a freshness
  * read (a status rollup of the merged table). One op per batch; every
  * pass starts from the same initial table and applies all batches. */
final class Ingest(initial: String, batches: Vector[Batch], runDir: String)
    extends Workload {
  val ops: Vector[String] = batches.indices.map(i => f"batch_$i%03d").toVector
  private val table = s"$runDir/referrals"

  private def typed(df: DataFrame): DataFrame = {
    def long(c: String) = trim(col(c)).cast("bigint").as(c)
    def str(c: String) = trim(col(c)).as(c)
    df.select(long("referral_id"), long("client_id"), str("status"),
      str("program"), long("amount_cents"), trim(col("referred_on")).cast("int")
        .as("referred_on"), long("version"))
  }

  def warm(spark: SparkSession): Unit = spark.read.parquet(initial).limit(1).collect()

  /** Every pass starts from the initial table (one parquet file). */
  override def startPass(spark: SparkSession): Unit = {
    val dir = Paths.get(table)
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
    Files.createDirectories(dir)
    Files.copy(Paths.get(initial), dir.resolve("part-00000-initial.parquet"))
  }

  def run(spark: SparkSession, op: String, phase: Phases): Map[String, Any] = {
    val b = batches(op.stripPrefix("batch_").toInt)
    val (batch, rowsIn) = phase("read") {
      val df = typed(graft.sources.DelimitedSource.read(spark, b.path))
      (df, df.count())
    }
    val before = partFiles()
    phase("merge")(graft.streaming.UpsertSink.mergeBatch(
      spark, table, batch, "referral_id", "version"))
    val after = partFiles()
    val rollup = phase("fresh") {
      spark.read.parquet(table).groupBy("status").count().collect()
    }
    Map("rows" -> rollup.map(_.getLong(1)).sum, "rows_in" -> rowsIn,
      "bytes_in" -> b.bytes, "table_bytes" -> after.map(_._2).sum,
      "files_written" -> (after -- before).size)
  }

  /** The table's part files as (name, length, mtime): a file the merge
    * wrote is one not in the table, with that length and mtime, before. */
  private def partFiles(): Set[(String, Long, Long)] =
    Option(new File(table).listFiles).toSet.flatten
      .filter(_.getName.startsWith("part-"))
      .map(f => (f.getName, f.length, f.lastModified))

  /** The merged table's key count and checksum: the sum of the CRC-32 of
    * every row's `|`-joined text, a null written as `\N`. */
  override def endPass(spark: SparkSession): Map[String, Any] = {
    val t = spark.read.parquet(table)
    val text = concat_ws("|", t.columns.toIndexedSeq.map(c =>
      coalesce(col(c).cast("string"), lit("\\N"))): _*)
    val r = t.agg(countDistinct(col("referral_id")), count(lit(1)),
      sum(crc32(text.cast("binary")))).head()
    Map("keys" -> r.getLong(0), "table_rows" -> r.getLong(1),
      "checksum" -> r.getLong(2).toString)
  }
}
