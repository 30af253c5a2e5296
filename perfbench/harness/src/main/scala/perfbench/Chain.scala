package perfbench

import graft.steps.Steps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The genetics chain of `graft.ChainBench`: sumstats synthesised from
  * `lineitem`, then the seven CLI steps (clumping, LD annotation,
  * CARMA→RAISS→SuSiE-inf, eCAVIAR coloc, L2G matrix, train, score),
  * each called through `Steps.runFromArgs` and writing parquet. The
  * glue between steps is the same DataFrame code ChainBench runs.
  *
  * `salt` varies the synthesised p-values and the z-score noise phase
  * without changing the number of sumstat rows; salt 0 reproduces
  * ChainBench's input exactly. */
object Chain {
  val Steps7: Seq[String] = Seq("window_based_clumping", "ld_annotation",
    "susie_credible_sets", "colocalisation", "l2g_feature_matrix",
    "l2g_train", "l2g_score")

  /** Runs one chain pass under `work`. Steps get an "op" span, glue a
    * "glue" span; `afterStep` runs untimed after each step. */
  def run(spark: SparkSession, t: Tracer, dir: String, work: String, salt: Long,
      afterStep: String => Unit): Unit = {
    def step(args: String*): Unit = {
      t.span("op", args.head)(Steps.runFromArgs(spark, args))
      afterStep(args.head)
    }
    def glue(name: String)(body: => Unit): Unit = t.span("glue", name)(body)
    def rd(p: String): DataFrame = spark.read.parquet(p)
    def wr(df: DataFrame, p: String): Unit = df.write.mode("overwrite").parquet(p)
    val p = (name: String) => s"$work/$name"

    glue("synthesize_sumstats") {
      val ok2 = (col("l_orderkey") / 2).cast("long")
      val sk = ok2 + lit(salt)
      val pos = (col("l_orderkey") * 4).cast("long")
      val d = abs(pos % 50000L - 25000L)
      val zSig = lit(7.0) * exp(-(d * d) / lit(2.0 * 2000.0 * 2000.0)) +
        lit(0.4) * sin(pos / lit(977.0) + lit(salt.toDouble)) +
        when(ok2 % 41 === 0, lit(-9.0)).otherwise(lit(0.0))
      wr(rd(s"$dir/lineitem.parquet").filter(col("l_orderkey") % 2 === 0)
        .select(
          concat(when(col("l_partkey") % 2 === 0, lit("g")).otherwise(lit("e")),
            ok2 % 10).as("studyId"),
          ((ok2 / 10).cast("long") % 3).cast("string").as("chromosome"),
          pos.as("position"),
          (lit(1.0) + (sk % 89) / 10.0).cast("float").as("pValueMantissa"),
          (-(sk % 12) - 4).cast("int").as("pValueExponent"),
          when(ok2 % 9 === 0, lit(null).cast("double"))
            .otherwise(zSig * 0.1).as("beta"),
          when(ok2 % 9 === 0, lit(null).cast("double"))
            .otherwise(lit(0.1)).as("standardError"))
        .withColumn("variantId", concat(col("chromosome"), lit("_"),
          col("position"), lit("_A_T")))
        .dropDuplicates("studyId", "chromosome", "position"), p("sumstats"))
    }

    step("window_based_clumping", s"in=${p("sumstats")}", s"out=${p("clumped")}",
      "distance=1000")

    glue("lead_filter") {
      wr(rd(p("clumped"))
        .filter(!array_contains(col("qualityControls"), "WINDOW_CLUMPED")),
        p("leads"))
    }

    glue("ld_index_build") {
      wr(rd(p("leads"))
        .select("variantId", "chromosome", "position").distinct()
        .select(col("variantId"), col("chromosome"),
          array(
            struct(col("variantId").as("tagVariantId"),
              array(struct(lit("nfe").as("population"), lit(1.0).as("r")))
                .as("rValues")),
            struct(concat(col("chromosome"), lit("_b"),
              (col("position") - col("position") % 5000), lit("_A_T"))
              .as("tagVariantId"),
              array(struct(lit("nfe").as("population"), lit(0.9).as("r")))
                .as("rValues"))).as("ldSet")), p("ld_index"))
      wr(rd(p("sumstats")).select("studyId").distinct()
        .withColumn("ldPopulationStructure",
          array(struct(lit("nfe").as("ldPopulation"),
            lit(1.0).as("relativeSampleSize")))), p("studies"))
    }

    step("ld_annotation", s"in=${p("leads")}", s"studies=${p("studies")}",
      s"ld_index=${p("ld_index")}", s"out=${p("annotated")}")

    glue("locus_extraction") {
      val window = 1250L
      val bw = window * 2
      val leadB = rd(p("annotated"))
        .filter(col("pValueExponent") <= -14)
        .select(concat_ws("|", col("studyId"), col("chromosome"),
            col("studyLocusId")).as("locusId"),
          col("studyId").as("_l_study"), col("chromosome").as("_l_chrom"),
          col("position").cast("long").as("_l_pos"))
        .withColumn("_lb", explode(array(
          floor(col("_l_pos") / bw) - 1, floor(col("_l_pos") / bw),
          floor(col("_l_pos") / bw) + 1)))
      wr(rd(p("sumstats"))
        .select(col("studyId"), col("chromosome"),
          col("position").cast("long").as("position"), col("variantId"),
          (col("beta") / col("standardError")).as("z"))
        .withColumn("_b", floor(col("position") / bw))
        .join(leadB,
          col("studyId") === col("_l_study") &&
            col("chromosome") === col("_l_chrom") &&
            col("_b") === col("_lb"))
        .filter(abs(col("position") - col("_l_pos")) <= window)
        .select(col("locusId"), col("variantId"), col("z"), col("position")),
        p("finemap_loci"))
    }

    glue("ld_block_build") {
      val wIdx = Window.partitionBy("locusId").orderBy("variantId")
      val idx = rd(p("finemap_loci"))
        .select(col("locusId"), col("variantId"), col("position"))
        .withColumn("idx", (row_number().over(wIdx) - 1).cast("int"))
      wr(idx.select(col("locusId"), col("idx").as("i"), col("position").as("_pi"))
        .join(idx.select(col("locusId"), col("idx").as("j"),
          col("position").as("_pj")), Seq("locusId"))
        .filter(col("i") < col("j"))
        .select(col("locusId"), col("i"), col("j"),
          exp(-abs(col("_pi") - col("_pj")) / lit(500.0)).as("r")),
        p("finemap_ld"))
    }

    step("susie_credible_sets", s"in=${p("finemap_loci")}", s"ld=${p("finemap_ld")}",
      s"out=${p("susie_credsets")}", "l=5", "run_carma=true",
      "run_sumstat_imputation=true", "imputed_r2_threshold=0.5",
      "ld_score_threshold=0.5", "dedup_perfect_ld=true")

    glue("credset_projection") {
      val parts = split(col("locusId"), "\\|")
      wr(rd(p("susie_credsets")).select(
          concat(parts.getItem(2), lit("_cs"), col("credibleSetIndex"))
            .as("studyLocusId"),
          parts.getItem(0).as("studyId"),
          when(parts.getItem(0).startsWith("g"), "gwas").otherwise("eqtl")
            .as("studyType"),
          parts.getItem(1).as("chromosome"),
          concat(lit("r"), parts.getItem(1)).as("region"),
          col("variantId"),
          split(col("variantId"), "_").getItem(1).cast("long").as("position"),
          transform(col("locus"), t => struct(
            t.getField("variantId").as("variantId"),
            t.getField("logBF").as("logBF"),
            t.getField("posteriorProbability").as("posteriorProbability"),
            t.getField("beta").as("beta"),
            lit(null).cast("float").as("pValueMantissa"),
            lit(null).cast("int").as("pValueExponent"))).as("locus")),
        p("credible_sets"))
    }

    step("colocalisation", s"in=${p("credible_sets")}", s"out=${p("coloc")}",
      "method=ecaviar")

    glue("distance_index_build") {
      wr(rd(p("credible_sets")).select("variantId").distinct()
        .select(col("variantId"), explode(array(
          struct(concat(lit("gn_"), col("variantId")).as("geneId"),
            lit(5000L).as("distanceFromTss")),
          struct(concat(lit("gf_"), col("variantId")).as("geneId"),
            lit(250000L).as("distanceFromTss")))).as("g"))
        .select(col("variantId"), col("g.geneId"), col("g.distanceFromTss")),
        p("distances"))
    }

    step("l2g_feature_matrix", s"credible_sets=${p("credible_sets")}",
      s"distances=${p("distances")}", s"out=${p("l2g_matrix")}")

    glue("l2g_labelling") {
      wr(rd(p("l2g_matrix"))
        .withColumn("goldStandardSet",
          when(col("geneId").startsWith("gn_"), "positive").otherwise("negative")),
        p("l2g_labelled"))
    }

    step("l2g_train", s"in=${p("l2g_labelled")}", s"out=${p("l2g_model")}",
      "cross_validate=false", "max_iter=10", "max_depth=3")
    step("l2g_score", s"model=${p("l2g_model")}", s"in=${p("l2g_matrix")}",
      s"out=${p("l2g_scores")}")
  }
}
