package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.connector.{ColumnRules, Connector}

/** The benchmark's JVM side: builds a session, copies the run's datasets,
  * warms up, runs one workload's ops in a closed loop from one client
  * thread, checks every op's output and prints the metrics.
  *
  * Usage: `perfbench.Main --workload <sql_mix|etl_rw|curate_10x> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> --expected <dir> --t0-ms <epoch ms>
  * [--mode run|pin|selfcheck]`. The last stdout line is the result JSON.
  */
object Main {
  /** Seed of the generated tables; the run seed only orders the ops. */
  val DataSeed = 42L
  /** Scale factor and corpus size of the warm-up pass's dataset. */
  val WarmSf = 0.001
  val WarmCorpus = 100L

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, expected: String, t0Ms: Long, mode: String)

  final case class OpResult(name: String, module: String,
      seconds: Double, buildS: Double, actionS: Double, ok: Boolean, checked: Boolean,
      indexBuilt: Int, indexRead: Boolean, detail: String)

  /** Registry modules of each query workload, with their metric prefix. */
  val sqlModules: Seq[(String, Map[String, Q])] = Seq(
    "operators.relational" -> graft.operators.Relational.queries,
    "operators.aggregates" -> graft.operators.Aggregates.queries,
    "operators.sqlsurface" -> graft.operators.SqlSurface.queries,
    "streaming" -> graft.streaming.Streams.queries)
  val curateModules: Seq[(String, Map[String, Q])] = Seq(
    "llm.dedup" -> graft.llm.Dedup.queries,
    "llm.components" -> graft.llm.Components.queries,
    "llm.similarity" -> graft.llm.Similarity.queries,
    "llm.textanalysis" -> graft.llm.TextAnalysis.queries)
  /** Every fourth query of each SQL module, in name order (30 of 112):
    * the whole surface takes over a minute per pass on 4 cores, more than
    * a run's share of the benchmark's time budget.
    */
  val sqlOps: Seq[(String, String, Q)] = sqlModules.flatMap { case (m, qs) =>
    qs.toSeq.sortBy(_._1).zipWithIndex.collect { case ((n, q), i) if i % 4 == 0 => (m, n, q) }
  }
  /** Eleven LLM-curation ops: the dedup family, the pair-graph loops and
    * the ANN/kNN similarity ops, which build the on-disk indexes. Seven
    * more of the pipeline (q_dedup_prefix, q_bpe_encode, q_pipeline_curate,
    * q_langid_confusion, q_dedup_embed, q_quality_model, q_cooccur_window)
    * are left out for time.
    */
  val curateWarmOps: Seq[String] = Seq("q_dedup_line", "q_tfidf", "q_dedup_simhash",
    "q_knn_label_acc")
  val curateOps: Seq[String] = Seq("q_dedup_line", "q_dedup_minhash", "q_dedup_simhash",
    "q_dedup_near", "q_dedup_cc", "q_graph_kcore", "q_pagerank", "q_hits", "q_tfidf",
    "q_sim_batch_ann", "q_knn_label_acc")
  val layerModules: Seq[String] = (sqlModules ++ curateModules).map(_._1)

  /** Scale factor of each workload's timed dataset. */
  def scaleFactor(workload: String, mode: String): Double = (workload, mode) match {
    case (_, "selfcheck") => 0.001
    case ("sql_mix", _) => 0.01
    case ("etl_rw", _) => 0.02
    case ("curate_10x", _) => 0.01
    case (w, _) => sys.error(s"unknown workload $w")
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m("expected"), m("t0-ms").toLong, m.getOrElse("mode", "run"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val runDir = new File(a.work, s"run-${java.util.UUID.randomUUID().toString.take(8)}")
    runDir.mkdirs()
    val nproc = Runtime.getRuntime.availableProcessors()
    val loopS = cpuLoopSeconds()
    val sessionT0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(runDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getAbsolutePath)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - sessionT0) / 1e9
    val indexesBefore = indexDirs()
    try {
      val res = new Run(spark, a, runDir, nproc).execute(sessionS, loopS)
      println(res)
    } finally {
      spark.stop()
      (indexDirs() -- indexesBefore).foreach(d => graft.util.Fs.deleteRecursively(d.getPath))
      graft.util.Fs.deleteRecursively(runDir.getPath)
    }
  }

  /** The engine keeps its persisted pair and ANN indexes under `/tmp`,
    * keyed by a digest of the dataset files. Every run copies its datasets
    * to a fresh path, so the index dirs that appear during a run are its
    * own; they are deleted when it ends.
    */
  def indexDirs(): Set[File] = {
    val tmp = new File("/tmp")
    Option(tmp.listFiles()).map(_.toSet).getOrElse(Set.empty).filter { f =>
      val n = f.getName
      n.startsWith("graft_pair_index_") || n.startsWith("graft_ann_index_")
    }
  }

  /** A Spark-free CPU loop, timed as machine context for the numbers. */
  def cpuLoopSeconds(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 1L; var i = 0
      while (i < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      if (x == 42) println("")
      (System.nanoTime() - t0) / 1e9
    }
    once(); Seq.fill(3)(once()).sorted.apply(1)
  }

  /** Steal and total jiffies of all CPUs from /proc/stat, where there is
    * one: the share of the window the host gave this machine's CPUs to
    * others, as context for the numbers.
    */
  def cpuSteal(): Option[(Long, Long)] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    (f(7), f.take(8).sum)
  }.toOption

  /** Harrell-Davis estimate of the q-quantile: a Beta((n+1)q, (n+1)(1-q))
    * weighted mean of the order statistics. Unlike a single order
    * statistic it does not jump when two ops near the median swap ranks,
    * so it spreads less between runs whose op order differs.
    */
  def hdQuantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) return Double.NaN
    val (a, b) = ((n + 1) * q, (n + 1) * (1 - q))
    // the Beta density, integrated with the midpoint rule per order statistic
    val steps = 64
    val w = (0 until n).map { i =>
      (0 until steps).map { k =>
        val x = (i + (k + 0.5) / steps) / n
        math.exp((a - 1) * math.log(x) + (b - 1) * math.log(1 - x))
      }.sum
    }
    s.zip(w).map { case (v, wi) => v * wi }.sum / w.sum
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.min(s.size - 1, (q * (s.size - 1)).round.toInt))
  }

  /** The value with exactly ten samples beyond it, and its percentile. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else Some((xs.sorted.apply(xs.size - 11), 100.0 * (xs.size - 10) / xs.size))

  def fmt(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString

  def json(m: Map[String, Any]): String = m.map { case (k, v) =>
    val s = v match {
      case d: Double => fmt(d)
      case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      case n: Int => n.toString
      case n: Long => n.toString
      case m: Map[_, _] => json(m.asInstanceOf[Map[String, Any]])
      case other => "\"" + other + "\""
    }
    "\"" + k + "\":" + s
  }.mkString("{", ",", "}")
}

/** One run of one workload. */
final class Run(spark: SparkSession, a: Main.Args, runDir: File, nproc: Int) {
  import Main._

  private val sf = scaleFactor(a.workload, a.mode)
  private var warming = false
  private val trace = new Trace(spark, a.trace, nproc)
  private val rng = new Random(a.seed)
  private val results = mutable.ArrayBuffer.empty[OpResult]
  private val expected: Map[String, Check.Digest] =
    if (a.mode == "run") Check.load(new File(a.expected, s"${a.workload}.tsv")) else Map.empty
  private val pinned = mutable.Map.empty[String, Check.Digest]
  private val extra = mutable.LinkedHashMap.empty[String, Double]

  def execute(sessionS: Double, loopS: Double): String = {
    val tables = if (a.workload == "etl_rw") Set("lineitem") else graft.Engine.tableNames.toSet
    var genS = 0.0
    // Generated once per checkout, then copied per run: a fresh path and
    // fresh file times give the run's dataset index digests no earlier
    // run used.
    def dataset(sf: Double, corpusFloor: Long, name: String): String = {
      val cache = new File(a.work, s"data-sf$sf-$corpusFloor-${tables.size}")
      if (!new File(cache, "_SUCCESS").exists()) {
        val t0 = System.nanoTime()
        graft.util.Fs.deleteRecursively(cache.getPath)
        DataGen.write(spark, cache.getPath, sf, DataSeed, corpusFloor, tables)
        val counts = tables.toSeq.sorted.map(t => s"$t\t${spark.read.parquet(s"$cache/$t.parquet").count()}\n")
        java.nio.file.Files.write(new File(cache, "_SUCCESS").toPath, counts.mkString.getBytes("UTF-8"))
        genS += (System.nanoTime() - t0) / 1e9
      }
      val dir = new File(runDir, name)
      copyTree(cache, dir)
      dir.getAbsolutePath
    }
    // sql_mix warms up on its own copy of the timed dataset: the same
    // sizes give the same join strategies and code paths, and its queries
    // keep no index or memo a copy at another path could reuse.
    val warmDir = if (a.workload == "sql_mix" && a.mode == "run") dataset(sf, 500, "warm")
      else dataset(WarmSf, WarmCorpus, "warm")
    val dataDir = dataset(sf, 500, "data")
    // One untimed pass over the same ops on the warm-up dataset warms the
    // JIT and the codegen cache (which is keyed by plan, not by data), as
    // graft.Bench does; indexes and memos are keyed by dataset, so the
    // timed pass still starts without them.
    val warmT0 = System.nanoTime()
    warming = true
    passOver(warmDir)(0)
    warming = false
    extra.clear()
    val plan = passOver(dataDir)
    val warmS = (System.nanoTime() - warmT0) / 1e9
    val rows = scala.io.Source.fromFile(new File(dataDir, "_SUCCESS"), "UTF-8").getLines()
      .map(_.split('\t')).map(r => r(0) -> r(1).toLong).toMap
    val persisted0 = spark.sparkContext.getPersistentRDDs.size
    trace.start()
    val firstOpMs = System.currentTimeMillis()
    // start the window from a collected heap, so no collection the set-up
    // left due lands on the first timed ops
    System.gc(); Thread.sleep(500)
    val steal0 = cpuSteal()
    val t0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      plan(pass); pass += 1
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val stealFrac = cpuSteal().zip(steal0).map { case ((s1, t1), (s0, t0)) =>
      (s1 - s0).toDouble / math.max(1L, t1 - t0) }.getOrElse(Double.NaN)
    trace.stop()
    val persistDelta = spark.sparkContext.getPersistentRDDs.size - persisted0
    val persistMem = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
    // Spark's cleaner drops blocks only after a GC has made their owners
    // unreachable, so the heap keeps shrinking over a few GC rounds: take
    // the smallest of three
    val heapMb = Seq.fill(3) {
      System.gc(); Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    if (a.mode == "pin") Check.save(new File(runDir.getParentFile, s"${a.workload}.tsv"), pinned.toMap)
    if (a.trace) trace.dump(new File(runDir.getParentFile, s"spans-${a.workload}-${a.seed}.jsonl").getPath)

    val lat = results.map(_.seconds).toSeq
    val failed = results.count(!_.ok)
    // recorded as context, not as a metric: over the 30-37 ops of a pass
    // its spread across seeds exceeded what a bounded metric allows
    val (tailS, tailPct) = tail(lat).getOrElse((Double.NaN, Double.NaN))
    val ctx = Map[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "mode" -> a.mode,
      "commit" -> sys.env.getOrElse("PERFBENCH_COMMIT", "unknown"),
      "nproc" -> nproc, "master" -> spark.sparkContext.master,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "jdk" -> System.getProperty("java.version"),
      "scala" -> scala.util.Properties.versionNumberString,
      "spark" -> spark.version, "dataset_sf" -> sf, "warm_sf" -> WarmSf,
      "rows" -> rows, "cpu_loop_s" -> loopS, "cpu_steal_frac" -> stealFrac, "passes" -> pass,
      "window_s" -> windowS, "datagen_s" -> genS, "session_s" -> sessionS,
      "warmup_s" -> warmS, "op_tail_s" -> tailS, "op_tail_pct" -> tailPct)
    println(json(Map("context" -> ctx)))
    results.filter(!_.ok).foreach(r => System.err.println(s"[perfbench] FAILED ${r.name}: ${r.detail}"))

    val metrics: Map[String, (Double, String)] =
      if (!a.trace) {
        Map(
          // dataset generation runs once per checkout, like the compile
          "setup_s" -> ((firstOpMs - a.t0Ms) / 1e3 - genS, "s"),
          "ops_per_s" -> (results.size / windowS, "1/s"),
          "op_p50_s" -> (hdQuantile(lat, 0.5), "s"),
          "ok_frac" -> ((results.size - failed).toDouble / results.size, "frac"),
          "heap_retained_mb" -> (heapMb, "MB"))
      } else layerMetrics(sessionS, warmS, windowS, persistDelta, persistMem)
    val ok = failed == 0 && results.nonEmpty && results.forall(_.checked)
    val body = metrics.map { case (k, (v, u)) => s""""$k":{"value":${fmt(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")
    s"""{"correct":$ok,"attempted":${results.size},"failed":$failed,"metrics":$body}"""
  }

  private def layerMetrics(sessionS: Double, warmS: Double, windowS: Double,
      persistDelta: Int, persistMem: Long): Map[String, (Double, String)] = {
    val c = trace.counters
    val ops = trace.spans.filter(_.kind == "op")
    val base = Map[String, (Double, String)](
      "engine.session_s" -> (sessionS, "s"), "engine.warmup_s" -> (warmS, "s"),
      "driver.nojob_s" -> (ops.map(trace.noJobSeconds).sum, "s"),
      "sched.tasks_per_job" -> (c.get("sched.tasks") / math.max(1.0, c.get("sched.jobs")), "count"),
      "exec.busy_cores" -> (c.get("exec.run_s") / windowS, "cores"),
      "index.dirs_built" -> (results.map(_.indexBuilt).sum.toDouble, "count"),
      "index.dirs_reused" -> (results.count(r => r.indexRead && r.indexBuilt == 0).toDouble, "count"),
      "index.build_op_s" -> (results.filter(_.indexBuilt > 0).map(_.seconds).sum, "s"),
      "persist.rdds_delta" -> (persistDelta.toDouble, "count"),
      "persist.mem_bytes" -> (persistMem.toDouble, "bytes"),
      "trace.window_s" -> (windowS, "s"))
    val counted = Seq("driver.parse_s", "driver.analysis_s", "driver.optimization_s",
      "driver.planning_s", "driver.query_executions", "codegen.compile_s", "codegen.gen_s",
      "codegen.classes", "sched.jobs", "sched.stages", "sched.tasks", "exec.deser_s",
      "exec.run_s", "exec.cpu_s", "exec.gc_s", "shuffle.read_bytes", "shuffle.write_bytes",
      "shuffle.records", "shuffle.fetch_wait_s", "stage.skew_max", "stage.straggler_s",
      "spill.disk_bytes", "spill.mem_bytes", "io.input_bytes", "io.output_bytes")
      .map(k => k -> (c.get(k), unitOf(k))).toMap
    val modules = layerModules.flatMap { m =>
      val rs = results.filter(_.module == m)
      Seq(s"$m.build_s" -> (rs.map(_.buildS).sum, "s"), s"$m.action_s" -> (rs.map(_.actionS).sum, "s"),
        s"$m.ops" -> (rs.size.toDouble, "count"))
    }.toMap
    val conn = Seq("connector.validate_s", "connector.stage_s", "connector.create_s",
      "connector.load_s", "connector.read_s", "connector.staged_bytes",
      "connector.table_files", "etl.rows_per_s", "etl.load_p50_s", "etl.read_p50_s",
      "etl.read_tail_s", "etl.write_amp")
      .map(k => k -> (extra.getOrElse(k, 0.0), unitOf(k))).toMap
    base ++ counted ++ modules ++ conn
  }

  private def unitOf(k: String): String =
    if (k.endsWith("_per_s")) "1/s" else if (k.endsWith("_s")) "s"
    else if (k.endsWith("_bytes")) "bytes"
    else if (k.endsWith("skew_max") || k.endsWith("write_amp")) "ratio"
    else "count"

  /** Untimed preparation on `dir`; returns the body of one pass. */
  private def passOver(dir: String): Int => Unit = a.workload match {
    // every third op warms the shared parse, plan, codegen and scan paths;
    // with every sixth the first six ops of the window ran 1.2-1.4x slower
    case "sql_mix" =>
      // resolving a table reads its footers once per dataset; do that for
      // every table before the window, so no timed op pays for being the
      // first of its pass to read a table
      if (!warming) graft.Engine.tableNames.foreach(t => Check.digest(graft.Engine.table(spark, dir, t)))
      queryPass(dir, if (warming) sqlOps.sortBy(_._2).zipWithIndex.collect { case (o, i) if i % 3 == 0 => o }
        else sqlOps)
    case "curate_10x" =>
      val all = curateModules.flatMap { case (m, qs) => qs.toSeq.map(q => (q._1, (m, q._2))) }.toMap
      // a whole warm pass would cost more than the timed one (the graph
      // loops and index builds pay their fixed cost on any corpus size);
      // the text, hashing and vector ops warm the shared code paths
      val names = if (warming) curateWarmOps else curateOps
      queryPass(dir, names.map(n => (all(n)._1, n, all(n)._2)))
    case "etl_rw" => if (warming) new Etl(dir, 2, 2).prepare() else new Etl(dir, 4, 8).prepare()
    case w => sys.error(s"unknown workload $w")
  }

  private def queryPass(dir: String, ops: Seq[(String, String, Q)]): Int => Unit = {
    val limited = if (a.mode == "selfcheck") ops.sortBy(_._2).take(4) else ops
    _ => rng.shuffle(limited.sortBy(_._2)).foreach { case (m, n, q) =>
      op(n, m)(q.fn(spark, dir))
    }
  }

  /** Runs one op: `build` inside a build span and the digest of its frame
    * in an action span, then compares the digest with `expect`, or with
    * the pinned digest of the op's name.
    */
  private def op(name: String, module: String, expect: Option[Check.Digest] = None)(
      build: => DataFrame): Unit = if (warming) {
    try Check.digest(build) catch { case e: Throwable => System.err.println(s"[warm] $name: $e") }
  } else {
    val before = indexDirs()
    val s = trace.open("op", name)
    var buildS, actionS = 0.0
    var ok = false; var checked = false; var detail = ""
    try {
      val (df, b) = trace.span("build", name)(build)
      buildS = b.seconds
      val (d, act) = trace.span("action", name)(Check.digest(df))
      actionS = act.seconds
      checked = true
      val want = expect.orElse(expected.get(name))
      pinned(name) = d
      ok = a.mode != "run" || want.contains(d)
      if (!ok) detail = s"digest $d, expected ${want.getOrElse("none pinned")}"
    } catch { case e: Throwable => detail = e.toString }
    finally trace.close(s)
    trace.drain()
    val built = (indexDirs() -- before).size
    val read = trace.scannedRoots.get(s.id).exists(_.exists(p =>
      p.contains("/graft_pair_index_") || p.contains("/graft_ann_index_")))
    results += OpResult(name, module, s.seconds, buildS, actionS, ok, checked, built, read, detail)
    System.err.println(f"[op] $name%s ${s.seconds}%.3f build=$buildS%.3f action=$actionS%.3f ok=$ok%s built=$built%d read=$read%s")
  }

  /** The staged-load read/write workload: `slices` seed-ordered slices of
    * lineitem are loaded into one table (create, then appends), each
    * followed by `readsPerLoad` parameterized point reads; a final
    * aggregate read closes the pass.
    */
  private final class Etl(dataDir: String, slices: Int, readsPerLoad: Int) {
    private val tag = new File(dataDir).getName
    private val table = s"perfbench_li_${runDir.getName.stripPrefix("run-")}_$tag"
    private val staging = new File(runDir, s"staging-$tag").getAbsolutePath
    private val cs = Connector.connectStaging(spark, staging)
    private val src = graft.Engine.table(spark, dataDir, "lineitem")
    private val slice = pmod(xxhash64(src.columns.map(col).toIndexedSeq :+ lit(a.seed): _*), lit(slices))
    private val rowHash = xxhash64(src.columns.map(col).toIndexedSeq: _*)
    private val aggSql =
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
         |  sum(cast(l_quantity AS decimal(18,2))) AS qty,
         |  sum(cast(l_extendedprice AS decimal(18,2))) AS price
         |FROM %s GROUP BY l_returnflag, l_linestatus""".stripMargin

    def prepare(): Int => Unit = {
      // Per (slice, key) digests of the source rows: the expected answer
      // of a point read after any prefix of the loads.
      val perKey = src.withColumn("s", slice).groupBy(col("s"), col("l_orderkey"))
        .agg(count(lit(1)), sum(rowHash.cast("decimal(20,0)")))
        .collect().map(r => (r.getLong(0).toInt, r.getLong(1)) -> Check.Digest(r.getLong(2),
          BigDecimal(r.getDecimal(3))))
      val byKey = perKey.groupBy(_._1._2).map { case (k, v) => k -> v.map(e => e._1._1 -> e._2) }
      val sliceRows = perKey.groupBy(_._1._1).map { case (k, v) => k -> v.map(_._2.rows).sum }
      val order = rng.shuffle((0 until slices).toList)
      // keys present once the first i+1 slices are loaded
      val keysAfter = order.indices.map { i =>
        val loaded = order.take(i + 1).toSet
        perKey.collect { case ((s, k), _) if loaded(s) => k }.distinct.sorted
      }
      src.createOrReplaceTempView(s"perfbench_source_$tag")
      val finalWant = Check.digest(spark.sql(aggSql.format(s"perfbench_source_$tag")))
      val srcBytes = dirBytes(new File(dataDir, "lineitem.parquet"))
      _ => {
        graft.util.Fs.deleteRecursively(staging)
        val loads = mutable.ArrayBuffer.empty[Double]
        val reads = mutable.ArrayBuffer.empty[Double]
        var loadedRows = 0L
        order.zipWithIndex.foreach { case (sl, i) =>
          val part = src.where(slice === lit(sl))
          loadedRows += sliceRows.getOrElse(sl, 0L)
          val t0 = System.nanoTime()
          // the first load creates the table (dropping an earlier pass's)
          op(s"load_$i", "connector", Some(Check.Digest(loadedRows, 0))) {
            load(part, append = i > 0)
            spark.table(table).select()
          }
          loads += (System.nanoTime() - t0) / 1e9
          val loaded = order.take(i + 1).toSet
          (0 until readsPerLoad).foreach { j =>
            val key = keysAfter(i)(rng.nextInt(keysAfter(i).length))
            val want = byKey(key).collect { case (s, d) if loaded(s) => d }
            val r0 = System.nanoTime()
            op(s"read_${i}_$j", "connector",
                Some(Check.Digest(want.map(_.rows).sum, want.map(_.hash).sum))) {
              Connector.sqlRead(spark, s"SELECT * FROM $table WHERE l_orderkey = ?", Seq(key))
            }
            reads += (System.nanoTime() - r0) / 1e9
          }
        }
        op("aggregate", "connector", Some(finalWant))(spark.sql(aggSql.format(table)))
        extra("etl.rows_per_s") = loadedRows / loads.sum
        extra("etl.load_p50_s") = quantile(loads.toSeq, 0.5)
        extra("etl.read_p50_s") = quantile(reads.toSeq, 0.5)
        extra("etl.read_tail_s") = tail(reads.toSeq).map(_._1).getOrElse(Double.NaN)
        extra("connector.read_s") = reads.sum
        val tableDir = new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
        extra("connector.staged_bytes") = dirBytes(new File(staging))
        extra("connector.table_files") = Option(tableDir.listFiles()).getOrElse(Array.empty)
          .count(_.getName.endsWith(".parquet")).toDouble
        extra("etl.write_amp") = (dirBytes(new File(staging)) + dirBytes(tableDir)) / srcBytes
      }
    }

    /** `Connector.writeTable`, or in a traced run its four steps called
      * in the order writeTable composes them, each timed.
      */
    private def load(df: DataFrame, append: Boolean): Unit =
      if (!a.trace) Connector.writeTable(cs, df, table, append = append, verbose = false)
      else {
        def timed[T](k: String)(body: => T): T = {
          val t0 = System.nanoTime()
          try body finally extra(k) = extra.getOrElse(k, 0.0) + (System.nanoTime() - t0) / 1e9
        }
        val validated = timed("connector.validate_s")(ColumnRules.validateColumnNames(df))
        val csvName = s"$table-${java.util.UUID.randomUUID()}.csv"
        timed("connector.stage_s")(Connector.stageCsv(cs, validated, csvName, verbose = false))
        if (!append) timed("connector.create_s")(Connector.createTable(cs, validated, table, verbose = false))
        timed("connector.load_s")(Connector.loadStaged(cs, table, csvName, verbose = false))
      }
  }

  private def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      from.listFiles().foreach(f => copyTree(f, new File(to, f.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)

  private def dirBytes(f: File): Double =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0.0 else f.length.toDouble
}
