package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.AnnSearch

/** Mined-pair agreement between the brute and IVF arms of
  * [[AnnSearch.bitextMarginMine]] at a given corpus tier: the IVF arm's
  * wall-time win (SCALE.md) is only meaningful next to how often it
  * mines the SAME pair the exact arm does. Prints one JSON line with
  * the pair counts, the agreement fraction, and the mean margin of the
  * disagreeing rows (low-margin disagreements are the expected,
  * near-tie kind; high-margin ones would indicate real recall loss). */
object BitextRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_sf1")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val src = emb.where(col("vec_id") % 2 === 0)
    val tgt = emb.where(col("vec_id") % 2 === 1)
    val n = emb.count()
    val cells = math.max(16, math.sqrt(n.toDouble / 2).toInt)
    val nProbe = sys.env.getOrElse("SPARK_GRAFT_NPROBE", "8").toInt
    val brute = AnnSearch.bitextMarginMine(src, tgt, "embedding", "vec_id", 4)
      .select(col("src_id"), col("tgt_id").as("tgt_brute"), col("margin"))
      .localCheckpoint()
    val ivf = AnnSearch.bitextMarginMineIvf(src, tgt, "embedding", "vec_id", 4,
        dim = 64, nCells = cells, nProbe = nProbe)
      .select(col("src_id"), col("tgt_id").as("tgt_ivf"),
        col("margin").as("margin_ivf"))
      .localCheckpoint()
    val rr = AnnSearch.bitextMarginMineIvfRerank(src, tgt, "embedding", "vec_id", 4,
        dim = 64, nCells = cells, nProbe = nProbe)
      .select(col("src_id"), col("tgt_id").as("tgt_rr"),
        col("margin").as("margin_rr"))
      .localCheckpoint()
    val j = brute.join(ivf, Seq("src_id"), "outer")
      .join(rr, Seq("src_id"), "outer")
      .select(col("src_id"), col("tgt_brute"), col("tgt_ivf"), col("margin"),
        col("margin_ivf"), col("tgt_rr"), col("margin_rr"))
      .localCheckpoint()
    val total = j.count()
    require(total > 0, s"no mined pairs at all in $sfDir — empty or " +
      "zero-norm embeddings fixture")
    val agree = j.where(col("tgt_brute") === col("tgt_ivf")).count()
    // coalesce: at nProbe >= cells the arms agree everywhere and the
    // disagreement avg is null — 0.0 is the honest "nothing disagreed"
    val meanDisagreeMargin = j.where(!(col("tgt_brute") <=> col("tgt_ivf")))
      .agg(coalesce(avg(col("margin")), lit(0.0))).head().getDouble(0)
    // mining keeps only above-threshold margins (the Artetxe filter) —
    // agreement over the KEPT pairs is the operative recall; near-tie
    // disagreements below the bar never ship
    val bands = Seq(1.0, 1.05, 1.1, 1.2).map { thr =>
      val kept = j.where(col("margin") >= thr)
      val ka = kept.where(col("tgt_brute") === col("tgt_ivf")).count()
      val kn = kept.count()
      f""""thr_$thr%.2f":{"kept":$kn,"agree_frac":${
        if (kn == 0) 0.0 else ka.toDouble / kn}%.4f}"""
    }.mkString(",")
    // pair-LEVEL precision/recall of the SHIPPED artifact (VERDICT r9
    // task 7): each arm keeps its own (src, tgt) pairs whose OWN margin
    // clears the Artetxe bar — precision = |ivf ∩ brute| / |ivf|,
    // recall = |ivf ∩ brute| / |brute|. This prices the end metric (the
    // mined pair list), not just the retrieval argmax: an IVF pair can
    // clear the bar on an overestimated margin (its own kNN saw fewer
    // competitors), which agreement-over-brute-kept rows never counts.
    def prBands(tgtCol: String, marginCol: String): String =
      Seq(1.0, 1.05, 1.1, 1.2).map { thr =>
        val nB = j.where(col("margin") >= thr && col("tgt_brute").isNotNull).count()
        val nI = j.where(col(marginCol) >= thr && col(tgtCol).isNotNull).count()
        val hit = j.where(col("margin") >= thr && col(marginCol) >= thr &&
          col("tgt_brute") === col(tgtCol)).count()
        f""""thr_$thr%.2f":{"brute_pairs":$nB,"arm_pairs":$nI,""" +
          f""""precision":${if (nI == 0) 0.0 else hit.toDouble / nI}%.4f,""" +
          f""""recall":${if (nB == 0) 0.0 else hit.toDouble / nB}%.4f}"""
      }.mkString(",")
    val pairPr = prBands("tgt_ivf", "margin_ivf")
    val pairPrRr = prBands("tgt_rr", "margin_rr")
    println(s"""{"metric":"bitext_ivf_agreement","sf":"$sfDir","srcs":$total,""" +
      f""""agree":$agree,"agree_frac":${agree.toDouble / total}%.4f,""" +
      f""""mean_margin_of_disagreements":$meanDisagreeMargin%.4f,$bands,""" +
      s""""pair_pr":{$pairPr},"pair_pr_rerank":{$pairPrRr}}""")
    spark.stop()
  }
}
