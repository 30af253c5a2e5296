package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.Random

import graft.SparkEntry
import graft.core.CacheHandle
import graft.queries.Goldens
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One workload run in this fresh JVM. Writes one JSON run record to
  * `--out`: raw per-pass and per-operation timings (the untraced run's
  * end-to-end figures are derived from them by `perfbench/run.py`),
  * what the correctness gate needs, and with `--trace 1` the per-layer
  * figures and the span file.
  *
  * {{{
  * java -cp <harness>:<graft>:<spark jars> perfbench.Main --workload heavy_queries \
  *   --seed 1 --seconds 40 --trace 0 --data perfbench/data/sf0.001 \
  *   --work .perfbench/run --out .perfbench/run/record.json
  * }}}
  */
object Main {

  val Heavy: Seq[String] = Seq("q_ml_l2g_features", "q_gx_overlaps_coloc_e2e",
    "q_gx_ecaviar_fused_e2e", "q_gx_rsid_gnomad_map", "q_ml_l2g_gold_standard",
    "q_gx_finemap_e2e")

  /** The 38 oracle-checked relational and genetics queries registered
    * before q_dedup_exact, plus four oracle-checked genetics parsers. */
  val Light: Seq[String] = Seq("q_s2_scan_prune", "q_p1_pvalue_filter",
    "q_p4_region_filter", "q_j1_self_join_pairs", "q_j2_outer_align",
    "q_j3_range_join", "q_j4_interval_band_join", "q_j_skew_salted",
    "q_a11_rollup", "q_j5_semi_join", "q_j6_ld_annotate", "q_j9_variant_merge",
    "q_s14_ontology_closure", "q_f23_liftover", "q_f25_effect_norm",
    "q_j7_star_join", "q_j8_validation_join", "q_a1_collect_sorted",
    "q_a2_sum_products", "q_a3_sign_avg", "q_a5_stats_battery", "q_a9_pivot",
    "q_a10_melt", "q_w1_top1_per_group", "q_w3_sessionize", "q_w4_rank_scan",
    "q_w5_running_frame", "q_w7_medians", "q_w_topk_window",
    "q_set_union_distinct", "q_f9_harmonic_sum", "q_f20_cumsum_flags",
    "q_f3_pvalue_codec", "q_gx_coloc", "q_gx_ecaviar", "q_gx_cluster_top1",
    "q_gx_qc_metrics", "q_p2_sanity_filter", "q_gx_study_validation",
    "q_gx_intra_overlaps", "q_gx_locus_extract", "q_gx_study_parse")

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String, d: Int): Int = m.get(k).map(_.toInt).getOrElse(d)
  }

  /** JVM-wide counters sampled at span boundaries. */
  final case class Jvm(cpuS: Double, gcS: Double, jitMs: Double,
      compileMs: Double, classes: Long, bytecodeKb: Double) {
    def -(o: Jvm): Jvm = Jvm(cpuS - o.cpuS, gcS - o.gcS, jitMs - o.jitMs,
      compileMs - o.compileMs, classes - o.classes, bytecodeKb - o.bytecodeKb)
    def +(o: Jvm): Jvm = Jvm(cpuS + o.cpuS, gcS + o.gcS, jitMs + o.jitMs,
      compileMs + o.compileMs, classes + o.classes, bytecodeKb + o.bytecodeKb)
  }

  def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  def jvm(): Jvm = {
    val cpu = cpuSeconds()
    val gc = ManagementFactory.getGarbageCollectorMXBeans.toArray.map {
      case g: java.lang.management.GarbageCollectorMXBean => math.max(0L, g.getCollectionTime)
      case _ => 0L
    }.sum / 1e3
    val jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
    val h = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE
    // the histogram keeps a sample, not a sum: count × sampled mean
    val kb = h.getCount * h.getSnapshot.getMean / 1024.0
    Jvm(cpu, gc, jit, CodeGenerator.compileTime / 1e6,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount, kb)
  }

  /** Waits, for at most `maxS` seconds, until this JVM's background
    * threads (JIT compilers, GC, Spark's cleaners) use less than a
    * quarter of a core over 100 ms, so a steady pass does not start
    * with the compilation the cold pass and its checks queued. Returns
    * the seconds waited. */
  def quiesce(maxS: Double = 10.0): Double = {
    val t0 = System.nanoTime()
    var c = cpuSeconds()
    var quiet = false
    while (!quiet && (System.nanoTime() - t0) / 1e9 < maxS) {
      Thread.sleep(100)
      val c1 = cpuSeconds()
      quiet = c1 - c < 0.025
      c = c1
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Storage held by persisted and checkpointed blocks, in MB. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val data = a("data")
    val work = a("work")

    // the session exactly as the shipped CLI builds it (GraftCli):
    // master and shuffle partitions from the environment
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_SHUFFLE_PARTITIONS", "32"))
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .appName(s"graft-perfbench-$workload")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark.sparkContext)
    val tracing = new Tracing(spark, tracer)
    if (traced) tracing.start()

    val record = mutable.LinkedHashMap.empty[String, Any]
    record("config") = effectiveConfig(spark)
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val errors = mutable.ArrayBuffer.empty[String]

    if (workload == "genetics_chain")
      runChain(spark, tracer, tracing, data, work, seed, traced, record, layers, errors)
    else {
      val names = if (workload == "heavy_queries") Heavy else Light
      record("setup_s") = setupSeconds()
      runBasket(spark, tracer, tracing, names, data, work, seed, seconds,
        a.int("min-steady", 1), traced, workload == "heavy_queries", record,
        layers, errors)
    }

    if (traced) {
      val spans = tracing.spans()
      val path = s"$work/spans.jsonl"
      val w = new java.io.PrintWriter(path)
      try spans.foreach(s => w.println(Json(Map("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end))))
      finally w.close()
      record("spans_file") = path
      tracing.stop()
    }
    record("peak_rss_mb") = peakRssMb()
    record("layers") = layers
    record("errors") = errors
    val w = new java.io.PrintWriter(a("out"))
    try w.println(Json(record)) finally w.close()
    spark.stop()
  }

  /** JVM start to now. */
  def setupSeconds(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def effectiveConfig(spark: SparkSession): Map[String, Any] = {
    val conf = spark.conf
    val rules = spark.sessionState.optimizer.batches.flatMap(_.rules)
      .map(_.getClass.getName) ++
      spark.sessionState.planner.strategies.map(_.getClass.getName)
    Map(
      "master" -> spark.sparkContext.master,
      "cores" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "aqe" -> conf.get("spark.sql.adaptive.enabled"),
      "aqe_min_partition_size" ->
        conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize"),
      "graft_extensions" -> rules.exists(_.startsWith("graft.")),
      "serializer" -> spark.sparkContext.getConf.get("spark.serializer",
        "org.apache.spark.serializer.JavaSerializer"),
      "sink" -> "noop",
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq
        .map(_.toString).filterNot(_.startsWith("--add-opens")),
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version)
  }

  def describe(where: String, e: Throwable): String =
    s"$where: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)

  private def releaseQuery(spark: SparkSession): Unit = {
    CacheHandle.releaseQueryScoped()
    spark.sharedState.cacheManager.clearCache()
  }

  // ------------------------------------------------------------------
  // query baskets

  def runBasket(spark: SparkSession, t: Tracer, tracing: Tracing,
      names: Seq[String], data: String, work: String, seed: Long,
      seconds: Double, minSteady: Int, traced: Boolean, perQuery: Boolean,
      record: mutable.Map[String, Any], layers: mutable.Map[String, Double],
      errors: mutable.ArrayBuffer[String]): Unit = {
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passSpans = mutable.ArrayBuffer.empty[(Span, Jvm, Double)]
    val storage = mutable.ArrayBuffer.empty[Double]
    val held = mutable.ArrayBuffer.empty[Double]
    val check = mutable.LinkedHashMap.empty[String, String]
    val t0 = System.nanoTime()
    var p = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (p < 1 + minSteady || elapsed < seconds) {
      val order = new Random(seed * 1000003L + p).shuffle(names)
      val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
      var checkS = 0.0
      var checkJ = Jvm(0, 0, 0, 0, 0, 0)
      val waitS = if (p > 0) t.span("quiesce", s"pass$p")(quiesce())._1 else 0.0
      val j0 = jvm()
      val (_, ps) = t.span("pass", s"pass$p") {
        order.foreach { name =>
          val (df, _) = t.span("op", name) {
            try {
              val (df, bs) = t.span("build", name)(SparkEntry.queries(name)(spark, data))
              if (traced) storage += storageMb(spark)
              val (_, es) = t.span("exec", name)(
                df.write.format("noop").mode("overwrite").save())
              if (traced) storage += storageMb(spark)
              ops += Map("name" -> name, "build_s" -> bs.sec, "exec_s" -> es.sec)
              Some(df)
            } catch { case e: Throwable =>
              errors += describe(s"pass$p $name", e)
              ops += Map("name" -> name, "failed" -> true)
              None
            }
          }
          // the correctness gate reads the cold pass's own frames, outside
          // the op span, so the steady passes run nothing but the queries;
          // its time and JVM counters are taken off the pass
          if (p == 0) df.foreach { d =>
            val c0 = jvm()
            checkS += t.span("check", name) {
              try check(name) = verify(d, name, work, perQuery)
              catch { case e: Throwable => errors += describe(s"check $name", e) }
            }._2.sec
            checkJ = checkJ + (jvm() - c0)
          }
          releaseQuery(spark)
          if (traced) held += storageMb(spark)
        }
      }
      val dj = jvm() - j0 - checkJ
      val wall = ps.sec - checkS
      passSpans += ((ps, dj, wall))
      passes += Map("wall_s" -> wall, "check_s" -> checkS, "quiesce_s" -> waitS,
        "cpu_s" -> dj.cpuS, "jit_ms" -> dj.jitMs, "codegen_classes" -> dj.classes,
        "codegen_ms" -> dj.compileMs, "ops" -> ops.toSeq)
      p += 1
    }
    record("passes") = passes.toSeq
    record("check") = check
    if (traced && perQuery) record("series_break") = names.map { name =>
      val df = SparkEntry.queries(name)(spark, data)
      val c0 = System.nanoTime()
      val rows = df.count()
      val countS = (System.nanoTime() - c0) / 1e9
      releaseQuery(spark)
      name -> Map("count_s" -> countS, "rows" -> rows)
    }.toMap
    if (!perQuery) record("oracle_sql") = names.map(n => n -> SparkEntry.oracleSql(n)).toMap

    if (traced) {
      val spans = tracing.spans()
      val steady = if (passSpans.size > 1) passSpans.drop(1) else passSpans
      val n = steady.size.toDouble
      // the gate's checks run inside a steady pass but are not part of it
      val checks = Layers.subtree(spans, spans.filter(_.kind == "check").map(_.id).toSet)
      val scope = Layers.subtree(spans, steady.map(_._1.id).toSet) -- checks
      val inScope = spans.filter(s => scope.contains(s.id))
      val builds = inScope.filter(_.kind == "build")
      val execs = inScope.filter(_.kind == "exec")
      layers("queries.build_s") = builds.map(_.sec).sum / n
      layers("queries.exec_s") = execs.map(_.sec).sum / n
      val buildIds = Layers.subtree(spans, builds.map(_.id).toSet)
      layers("queries.build_jobs") =
        inScope.count(s => s.kind == "job" && buildIds.contains(s.parent)) / n
      Main.Heavy.foreach { q =>
        layers(s"queries.$q.build_s") =
          if (perQuery) builds.filter(_.name == q).map(_.sec).sum / n else 0.0
        layers(s"queries.$q.exec_s") =
          if (perQuery) execs.filter(_.name == q).map(_.sec).sum / n else 0.0
      }
      layers("core.cache_peak_mb") = (storage :+ 0.0).max
      layers("core.held_after_release_mb") = (held :+ 0.0).max
      execLayers(tracing, spans, scope, n, layers)
      codegenLayers(passSpans.head._2, layers)
      layers("jvm.gc_s") = steady.map(_._2.gcS).sum / n
      layers("trace.unattributed_s") = steady.map(_._3).sum / n -
        layers("queries.build_s") - layers("queries.exec_s")
      selfLayers(spans, scope, n, layers)
      zeroChainLayers(layers)
    }
  }

  /** The gate's view of one result: its canonical digest, or for the
    * DuckDB replay the path of a single-file parquet copy. */
  def verify(df: DataFrame, name: String, work: String, digest: Boolean): String =
    if (digest) Goldens.canonicalDigest(df)
    else {
      df.coalesce(1).write.mode("overwrite").parquet(s"$work/check/$name")
      s"$work/check/$name"
    }

  // ------------------------------------------------------------------
  // genetics chain

  def runChain(spark: SparkSession, t: Tracer, tracing: Tracing, data: String,
      work: String, seed: Long, traced: Boolean, record: mutable.Map[String, Any],
      layers: mutable.Map[String, Double], errors: mutable.ArrayBuffer[String]): Unit = {
    val readyS = setupSeconds()
    val salt = math.floorMod(seed, 1000L)
    val held = mutable.ArrayBuffer.empty[Double]
    val j0 = jvm()
    val (_, ps) = t.span("pass", "chain") {
      try Chain.run(spark, t, data, s"$work/chain", salt,
        _ => if (traced) held += storageMb(spark))
      catch { case e: Throwable => errors += describe("chain", e) }
    }
    val dj = jvm() - j0
    val spans = if (traced) tracing.spans() else t.all
    val steps = spans.filter(s => s.kind == "op" && !s.name.endsWith("!failed"))
    val glue = spans.filter(_.kind == "glue")
    record("setup_s") = readyS + glue.map(_.sec).sum
    record("passes") = Seq(Map(
      "wall_s" -> steps.map(_.sec).sum,
      "chain_wall_s" -> ps.sec,
      "cpu_s" -> dj.cpuS,
      "ops" -> Chain.Steps7.map(n => steps.find(_.name == n)
        .map(s => Map("name" -> n, "exec_s" -> s.sec))
        .getOrElse(Map("name" -> n, "failed" -> true)))))
    record("chain_out") = s"$work/chain"

    if (traced) {
      val stepIds = steps.map(_.id).toSet
      val scope = Layers.subtree(spans, stepIds)
      def stepS(n: String) = steps.find(_.name == n).map(_.sec).getOrElse(0.0)
      layers("operators.window_clumping_s") = stepS("window_based_clumping")
      layers("operators.ld_annotation_s") = stepS("ld_annotation")
      layers("operators.coloc_s") = stepS("colocalisation")
      layers("finemap.susie_step_s") = stepS("susie_credible_sets")
      layers("ml.l2g_matrix_s") = stepS("l2g_feature_matrix")
      layers("ml.l2g_train_s") = stepS("l2g_train")
      layers("ml.l2g_score_s") = stepS("l2g_score")
      val susie = Layers.subtree(spans,
        steps.filter(_.name == "susie_credible_sets").map(_.id).toSet)
      val susieStages = tracing.exec.synchronized {
        tracing.exec.stages.values.toSeq.filter(s => susie.contains(s.span))
      }
      layers("finemap.task_cpu_s") = susieStages.map(_.cpuS).sum
      layers("finemap.task_skew") = skew(susieStages)
      Seq("queries.build_s", "queries.exec_s", "queries.build_jobs",
        "trace.unattributed_s").foreach(layers(_) = 0.0)
      Main.Heavy.foreach { q =>
        layers(s"queries.$q.build_s") = 0.0
        layers(s"queries.$q.exec_s") = 0.0
      }
      layers("core.cache_peak_mb") = (held :+ 0.0).max
      layers("core.held_after_release_mb") = (held :+ 0.0).max
      execLayers(tracing, spans, scope, 1.0, layers)
      codegenLayers(dj, layers)
      layers("jvm.gc_s") = dj.gcS
      layers("chain.glue_s") = glue.map(_.sec).sum
      selfLayers(spans, Layers.subtree(spans, Set(ps.id)), 1.0, layers)
    }
  }

  // ------------------------------------------------------------------
  // per-layer figures shared by both workload kinds

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** max/median task time of the stage with the most task time. */
  def skew(stages: Seq[StageRec]): Double =
    stages.filter(_.taskMs.nonEmpty).sortBy(-_.runS).headOption.map { s =>
      val m = median(s.taskMs.map(_.toDouble).toSeq)
      if (m > 0) s.taskMs.max / m else 1.0
    }.getOrElse(0.0)

  def execLayers(tracing: Tracing, spans: Seq[Span], scope: Set[String],
      n: Double, layers: mutable.Map[String, Double]): Unit = {
    val ex = tracing.exec
    val (jobs, stages) = ex.synchronized {
      (ex.jobs.values.toSeq.filter(j => scope.contains(j.span)),
        ex.stages.values.toSeq.filter(s => scope.contains(s.span)))
    }
    layers("exec.jobs") = jobs.size / n
    layers("exec.stages") = stages.size / n
    layers("exec.tasks") = stages.map(_.taskMs.size).sum / n
    layers("exec.task_run_s") = stages.map(_.runS).sum / n
    layers("exec.task_cpu_s") = stages.map(_.cpuS).sum / n
    layers("exec.task_wait_s") = stages.map(_.waitS).sum / n
    layers("exec.shuffle_read_mb") = stages.map(_.shReadMb).sum / n
    layers("exec.shuffle_write_mb") = stages.map(_.shWriteMb).sum / n
    layers("exec.spill_mb") = stages.map(_.spillMb).sum / n
    layers("exec.task_skew") = skew(stages)
    layers("exec.task_failures") = stages.map(_.failures).sum / n
    layers("io.input_mb") = stages.map(_.inMb).sum / n
    layers("io.output_mb") = stages.map(_.outMb).sum / n
    layers("io.output_rows") = stages.map(_.outRows).sum / n
    def at(ss: Seq[Span], ns: Long) = ss.exists(s => s.start <= ns && ns <= s.end)
    val byTime = spans.filter(s => scope.contains(s.id) && s.kind != "job" && s.kind != "stage")
    val checks = spans.filter(_.kind == "check")
    val plans = tracing.plan.synchronized(tracing.plan.recs.toSeq)
      .filter(r => at(byTime, r.atNs) && !at(checks, r.atNs))
    layers("catalyst.analysis_ms") = plans.map(_.analysisMs).sum / n
    layers("catalyst.optimization_ms") = plans.map(_.optimizationMs).sum / n
    layers("catalyst.planning_ms") = plans.map(_.planningMs).sum / n
    layers("catalyst.executions") = plans.size / n
  }

  def codegenLayers(d: Jvm, layers: mutable.Map[String, Double]): Unit = {
    layers("codegen.compile_ms") = d.compileMs
    layers("codegen.classes") = d.classes.toDouble
    layers("codegen.bytecode_kb") = math.max(0.0, d.bytecodeKb)
    layers("jvm.jit_ms") = d.jitMs
  }

  val Kinds: Seq[String] = Seq("pass", "op", "build", "exec", "glue", "job", "stage")

  def selfLayers(spans: Seq[Span], scope: Set[String], n: Double,
      layers: mutable.Map[String, Double]): Unit = {
    val self = Layers.selfTimes(spans, s => scope.contains(s.id))
    Kinds.foreach(k => layers(s"trace.self_${k}_s") = self.getOrElse(k, 0.0) / n)
  }

  def zeroChainLayers(layers: mutable.Map[String, Double]): Unit =
    Seq("operators.window_clumping_s", "operators.ld_annotation_s",
      "operators.coloc_s", "finemap.susie_step_s", "ml.l2g_matrix_s",
      "ml.l2g_train_s", "ml.l2g_score_s", "finemap.task_cpu_s", "finemap.task_skew", "chain.glue_s")
      .foreach(layers(_) = 0.0)
}
