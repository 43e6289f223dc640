package perfbench

import java.nio.file.{Files, Paths}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Caches, GrowFixture, SparkEntry}

/** The benchmark's in-process half: it calls the program and times it.
  *
  * Modes (each takes `--key value` pairs):
  *  - `oracles --queries a,b --out DIR`: write the queries' DuckDB oracle
  *    SQL to `DIR/oracle_sql.json`;
  *  - `grow --base DIR --out DIR --factor F --cores N`: write a
  *    `GrowFixture` cut of the base tables;
  *  - `run --input DIR --out DIR --queries a,b --cores N --seconds S
  *    --trace 0|1 --spawn-ms T`: set the session up, timed from the
  *    process's spawn, run every query once writing its output for the
  *    oracle check, then time whole sweeps over the queries, one query at
  *    a time, for about S seconds, and write `DIR/result.json` (and
  *    `DIR/trace.json` when traced).
  *
  * Every mode rejects a query name the program does not register.
  */
object Harness {
  val QueryKey = "perfbench.query"
  val ExecKey = "perfbench.exec"
  val PhaseKey = "perfbench.phase"

  private val mapper = new ObjectMapper()

  private def obj(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def main(argv: Array[String]): Unit = {
    val mainNs = System.nanoTime()
    val mainMs = System.currentTimeMillis()
    val mode = argv.head
    val args = argv.tail.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def queries: Seq[String] = {
      val names = args("queries").split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val unknown = names.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"query names not registered: ${unknown.mkString(", ")}")
      val noOracle = names.filterNot(SparkEntry.oracleSql.contains)
      require(noOracle.isEmpty, s"queries without an oracle: ${noOracle.mkString(", ")}")
      names
    }
    mode match {
      case "oracles" =>
        writeOracles(queries, args("out"))
      case "grow" =>
        val spark = session(args("cores").toInt, args("out") + ".spark")
        try GrowFixture.grow(spark, args("base"), args("out"), args("factor").toInt)
        finally spark.stop()
      case "run" =>
        val spawnMs = args("spawn-ms").toLong
        // set-up counts from process start: JVM start plus class loading
        val startNs = mainNs - (mainMs - spawnMs) * 1000000L
        run(queries, args("input"), args("out"), args("cores").toInt,
          args("seconds").toDouble, args("trace") == "1", startNs)
      case other =>
        sys.error(s"unknown mode $other")
    }
  }

  private def writeOracles(queries: Seq[String], out: String): Unit = {
    Files.createDirectories(Paths.get(out))
    val m = new JMap[String, Any]()
    queries.foreach(q => m.put(q, SparkEntry.oracleSql(q)))
    mapper.writeValue(new java.io.File(s"$out/oracle_sql.json"), m)
  }

  /** The session every main of the program builds (`graft.Bench`,
    * `graft.Verify`), at `local[cores]` with one shuffle partition per core.
    * Spark's scratch space follows `java.io.tmpdir`. */
  def session(cores: Int, workDir: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()

  private def secs(ns: Long): Double = ns / 1e9

  private def run(queries: Seq[String], input: String, out: String, cores: Int,
                  seconds: Double, trace: Boolean, startNs: Long): Unit = {
    Files.createDirectories(Paths.get(out))

    // Set-up, from process start: JVM start, class loading, the session,
    // and one job on every core.
    val spark = session(cores, s"$out/spark")
    val t1 = System.nanoTime()
    spark.range(0, 1000, 1, cores).count()
    val t2 = System.nanoTime()
    val setup = obj("session_s" -> secs(t1 - startNs), "warmup_s" -> secs(t2 - t1),
      "setup_s" -> secs(t2 - startNs))
    val memory = new MemoryProbe()

    // Output pass, outside the timed window: each query's result is
    // written once for the oracle check. It also compiles every plan's
    // generated code before timing starts.
    val checkErrors = new JMap[String, Any]()
    val outputStart = System.nanoTime()
    queries.foreach { q =>
      try SparkEntry.queries(q)(spark, input).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/outputs/$q")
      catch { case e: Throwable => checkErrors.put(q, describe(e)) }
      finally Caches.releaseAll()
    }

    val outputS = secs(System.nanoTime() - outputStart)

    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())

    // Timed window: whole sweeps, one query at a time (a closed loop),
    // while the next sweep is expected to end inside `seconds`; at least one.
    // Each sweep starts from a full collection, so the heap every sweep
    // meets, and the heap left in use after its collections, are the same
    // from run to run.
    val execs = new JList[Any]()
    val windowStart = System.nanoTime()
    var sweeps = 0
    var lastSweep = 0L
    var exec = 0
    while (sweeps == 0 || secs(System.nanoTime() - windowStart + lastSweep) <= seconds) {
      System.gc()
      val s0 = System.nanoTime()
      queries.foreach { q =>
        if (trace) {
          spark.sparkContext.setLocalProperty(QueryKey, q)
          spark.sparkContext.setLocalProperty(ExecKey, exec.toString)
          spark.sparkContext.setLocalProperty(PhaseKey, "build")
        }
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var t1 = t0
        var error: String = null
        try {
          val df: DataFrame = SparkEntry.queries(q)(spark, input)
          t1 = System.nanoTime()
          if (trace) spark.sparkContext.setLocalProperty(PhaseKey, "force")
          df.write.format("noop").mode("overwrite").save()
        } catch { case e: Throwable => error = describe(e) }
        val t2 = System.nanoTime()
        if (t1 == t0) t1 = t2
        execs.add(obj("query" -> q, "exec" -> exec, "sweep" -> sweeps,
          "start_ms" -> startMs, "build_ms" -> (startMs + (t1 - t0) / 1000000L),
          "end_ms" -> (startMs + (t2 - t0) / 1000000L),
          "build_s" -> secs(t1 - t0), "wall_s" -> secs(t2 - t0), "error" -> error))
        Caches.releaseAll()
          exec += 1
      }
      lastSweep = System.nanoTime() - s0
      sweeps += 1
    }
    val windowS = secs(System.nanoTime() - windowStart)
    tracer.foreach { t =>
      t.uninstall()
      t.write(s"$out/trace.json")
    }

    mapper.writeValue(new java.io.File(s"$out/result.json"), obj(
      "cores" -> cores,
      "master" -> spark.sparkContext.master,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark_version" -> spark.version,
      "setup" -> setup,
      "check_errors" -> checkErrors,
      "output_pass_s" -> outputS,
      "sweeps" -> sweeps,
      "window_s" -> windowS,
      "execs" -> execs,
      "heap_live_peak_bytes" -> memory.heapLivePeak,
      "off_heap_peak_bytes" -> memory.offHeapPeak,
      "vm_hwm_bytes" -> MemoryProbe.vmHwm()))
    memory.close()
    Caches.releaseAll()
    spark.stop()
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
}
