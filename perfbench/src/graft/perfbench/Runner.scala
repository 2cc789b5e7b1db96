package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** JVM side of the benchmark: sets a session up, runs passes of a query
  * list against the input tables and writes what it measured as JSON.
  * Checking outputs against the expected digests and turning the raw
  * timings into metrics happens in `run.py`.
  *
  * Modes (first argument):
  *   run      --data D --queries a,b,.. --seed N --seconds S --trace 0|1
  *            --fresh-session 0|1 --cores N --out F [--spawn-ns T]
  *   record   --data D --queries a,b,.. --cores N --out DIR
  *            (one execution each; writes every output as parquet for the
  *            DuckDB oracle plus the digests to DIR/digests.json)
  *   selftest (digest order-insensitivity; exits 1 on a failed check)
  */
object Runner {

  val Tables: Seq[String] = Seq("lineitem", "orders", "customer", "supplier",
    "part", "nation", "region", "events", "documents", "embeddings")

  final case class Exec(query: String, pass: Int, buildNs: Long, planNs: Long,
      execNs: Long, startMs: Long, buildEndMs: Long, planEndMs: Long,
      endMs: Long, rows: Long, digest: String, error: String)

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    mode match {
      case "run"      => run(opts)
      case "record"   => record(opts)
      case "selftest" => sys.exit(if (DigestSelfTest.run()) 0 else 1)
      case other =>
        System.err.println(s"unknown mode '$other' (run | record | selftest)")
        sys.exit(2)
    }
  }

  def session(cores: Int, localDir: Option[String], traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.minPartitionNum", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
    localDir.foreach(d => b.config("spark.local.dir", d))
    // every session, including the fresh ones a pass or a query creates,
    // instantiates the phase listener from this static conf
    if (traced) b.config("spark.sql.queryExecutionListeners",
      classOf[PhaseListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Loads (lists files and reads footers of) every table into the
    * session's table cache and runs the JIT warm-up query. */
  def prepare(spark: SparkSession, data: String): Unit = {
    Tables.foreach(t => graft.core.Tables.load(spark, data, t).schema)
    spark.range(2000000).selectExpr("sum(id * 2)").collect()
  }

  /** Order-insensitive content digest of a frame: row count, then the sum
    * (modulo 2^64) and the xor of a 64-bit hash of each row's JSON form. The
    * JSON form covers nested arrays, maps and structs and keeps column
    * names. Each partition is reduced where it is computed, so the digest
    * adds no exchange or stage to the query's plan. */
  def digestFrame(df: DataFrame): Dataset[(Long, Long, Long)] = {
    val cols = df.columns.map(c => col("`" + c.replace("`", "``") + "`"))
    df.select(xxhash64(to_json(struct(cols.toIndexedSeq: _*))).as("h"))
      .mapPartitions { rows =>
        var n = 0L
        var s = 0L
        var x = 0L
        rows.foreach { r =>
          val h = r.getLong(0)
          n += 1
          s += h
          x ^= h
        }
        Iterator((n, s, x))
      }(DigestEncoder)
  }

  private val DigestEncoder =
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)

  /** Combines the per-partition parts into (rows, digest string). */
  def digestOf(parts: Array[(Long, Long, Long)]): (Long, String) = {
    val n = parts.map(_._1).sum
    val s = parts.map(_._2).sum
    val x = parts.map(_._3).foldLeft(0L)(_ ^ _)
    (n, if (n == 0) "0" else s"$n:$s:$x")
  }

  def queryFn(name: String): (SparkSession, String) => DataFrame =
    graft.queries.Catalog.queries.getOrElse(name,
      throw new IllegalArgumentException(s"no query named $name in the catalog"))

  // ------------------------------------------------------------------ run

  def run(o: Map[String, String]): Unit = {
    val data = o("data")
    val queries = o("queries").split(",").toIndexedSeq
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val fresh = o("fresh-session") == "1"
    val cores = o("cores").toInt
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val spawnNs = o.get("spawn-ns").map(_.toLong)

    val processStartNs = spawnNs.getOrElse(
      ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L)
    val spark0 = session(cores, o.get("local-dir"), traced)
    val trace = if (traced) Some(Trace.install(spark0.sparkContext)) else None
    val contextReadyS = (nowEpochNs() - processStartNs) / 1e9
    // one set-up per process: a second one in the same JVM would be warm
    // and hide the cold cost a scheduled process pays
    prepare(spark0, data)
    val setupS = (nowEpochNs() - processStartNs) / 1e9
    var current = spark0
    val fns = queries.map(q => q -> queryFn(q)).toMap
    val sc = spark0.sparkContext

    val passes = scala.collection.mutable.ArrayBuffer.empty[String]
    val execs = scala.collection.mutable.ArrayBuffer.empty[Exec]
    val measureStart = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - measureStart) / 1e9 < seconds) {
      val order = new Random(seed * 1000003L + pass).shuffle(queries)
      val gc0 = Trace.gcMs()
      val p0 = System.nanoTime()
      // a fresh session misses every session-keyed cache; its tables
      // load inside the pass
      if (fresh) current = spark0.newSession()
      val (files0, bytes0) = Trace.walk(tmp)
      val passExecs = order.map { q =>
        val g0 = Trace.gcMs()
        val (f0, b0) = if (traced) Trace.walk(tmp) else (0L, 0L)
        val e = execute(current, sc, fns(q), q, pass, data)
        println(f"[perfbench] pass $pass $q%-32s ${(e.buildNs + e.planNs + e.execNs) / 1e9}%8.3f s " +
          (if (e.error.isEmpty) "ok" else e.error))
        trace.foreach { t =>
          val (f1, b1) = Trace.walk(tmp)
          t.noteAround(s"$pass/$q", Trace.gcMs() - g0, f1 - f0, b1 - b0)
        }
        execs += e
        e
      }
      val wallS = (System.nanoTime() - p0) / 1e9
      val (storeFiles, storeBytes) = Trace.walk(tmp)
      passes += Json.obj(
        "index" -> Json.num(pass),
        "wall_s" -> Json.num(wallS),
        "gc_ms" -> Json.num(Trace.gcMs() - gc0),
        "store_files" -> Json.num(storeFiles - files0),
        "store_bytes" -> Json.num(storeBytes - bytes0),
        "queries" -> Json.arr(passExecs.map(e => Json.str(e.query))))
      pass += 1
    }
    val measuredS = (System.nanoTime() - measureStart) / 1e9
    trace.foreach(_.drain(sc))

    // heap still reachable after a full collection: the least of three,
    // as a collection can leave garbage a later one frees
    val heapAfterGcMb = (1 to 3).map { _ =>
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    val inputBytes = Tables.map(t => new File(s"$data/$t.parquet").length).sum

    val fields = Seq(
      "cores" -> Json.num(cores),
      "context_ready_s" -> Json.num(contextReadyS),
      "setup_s" -> Json.num(setupS),
      "measured_s" -> Json.num(measuredS),
      "heap_after_gc_mb" -> Json.arr(heapAfterGcMb.map(Json.num)),
      "input_bytes" -> Json.num(inputBytes),
      "passes" -> Json.arr(passes.toSeq),
      "executions" -> Json.arr(execs.toSeq.map(execJson))) ++
      trace.map(t => "trace" -> t.report(execs.toSeq)).toSeq
    Files.writeString(Paths.get(o("out")), Json.obj(fields: _*) + "\n")
    spark0.stop()
  }

  /** One timed execution: the catalog function (which may run eager
    * build-time jobs), then physical planning of the digest over its
    * output, then the action. Each phase tags the Spark jobs it starts
    * through local properties, which the threads a query forks inherit. */
  def execute(spark: SparkSession, sc: org.apache.spark.SparkContext,
              fn: (SparkSession, String) => DataFrame, q: String, pass: Int,
              data: String): Exec = {
    sc.setLocalProperty(Trace.QueryKey, s"$pass/$q")
    val phaseNs = Array(0L, 0L, 0L)
    val phaseEndMs = Array(0L, 0L, 0L)
    val startMs = System.currentTimeMillis()
    var t = System.nanoTime()
    def mark(i: Int): Unit = {
      val now = System.nanoTime()
      phaseNs(i) = now - t
      phaseEndMs(i) = System.currentTimeMillis()
      t = now
    }
    var rows = -1L
    var digest = ""
    var error = ""
    try {
      sc.setLocalProperty(Trace.PhaseKey, "build")
      val df = fn(spark, data)
      mark(0)
      sc.setLocalProperty(Trace.PhaseKey, "plan")
      val dd = digestFrame(df)
      dd.queryExecution.executedPlan
      mark(1)
      sc.setLocalProperty(Trace.PhaseKey, "exec")
      val parts = dd.collect()
      mark(2)
      val (n, d) = digestOf(parts)
      rows = n
      digest = d
    } catch {
      case e: Throwable =>
        val i = phaseEndMs.indexWhere(_ == 0L)
        if (i >= 0) mark(i)
        error = s"${e.getClass.getName}: ${String.valueOf(e.getMessage)}".take(400)
    } finally {
      sc.setLocalProperty(Trace.QueryKey, null)
      sc.setLocalProperty(Trace.PhaseKey, null)
    }
    val endMs = phaseEndMs.filter(_ > 0L).lastOption.getOrElse(startMs)
    Exec(q, pass, phaseNs(0), phaseNs(1), phaseNs(2), startMs,
      phaseEndMs(0), phaseEndMs(1), endMs, rows, digest, error)
  }

  def execJson(e: Exec): String = Json.obj(
    "query" -> Json.str(e.query), "pass" -> Json.num(e.pass),
    "build_ns" -> Json.num(e.buildNs), "plan_ns" -> Json.num(e.planNs),
    "exec_ns" -> Json.num(e.execNs), "start_ms" -> Json.num(e.startMs),
    "build_end_ms" -> Json.num(e.buildEndMs), "plan_end_ms" -> Json.num(e.planEndMs),
    "end_ms" -> Json.num(e.endMs), "rows" -> Json.num(e.rows),
    "digest" -> Json.str(e.digest), "error" -> Json.str(e.error))

  def nowEpochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  // --------------------------------------------------------------- record

  def record(o: Map[String, String]): Unit = {
    val data = o("data")
    val out = o("out")
    val spark = session(o("cores").toInt, None, traced = false)
    prepare(spark, data)
    val digests = o("queries").split(",").toSeq.map { q =>
      val df = queryFn(q)(spark, data).persist()
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
      val (n, d) = digestOf(digestFrame(df).collect())
      df.unpersist()
      q -> Json.obj("rows" -> Json.num(n), "digest" -> Json.str(d))
    }
    Files.writeString(Paths.get(s"$out/digests.json"), Json.obj(digests: _*) + "\n")
    val oracles = graft.queries.Catalog.oracleSql
      .filter { case (k, _) => digests.exists(_._1 == k) }
      .map { case (k, v) => k -> Json.str(v) }.toSeq
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json.obj(oracles: _*) + "\n")
    spark.stop()
  }
}

/** Minimal JSON writer (values are pre-rendered strings). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Long): String = v.toString
  def num(v: Int): String = v.toString
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
