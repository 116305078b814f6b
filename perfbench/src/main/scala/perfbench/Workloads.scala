package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Pipelines.read

/** A workload: inputs made from the seed, a pass run in a closed loop, and
  * a correctness check of every pass against the generator's manifest.
  */
trait Workload {
  /** Planted parameters, for the run's report. */
  def manifest: Seq[(String, Any)]
  /** Untimed step before every pass. */
  def beforePass(): Unit = ()
  def pass(spark: SparkSession, span: Spans, k: Int): Unit
  /** Failed conservation checks of pass `k` (empty = correct). */
  def check(spark: SparkSession, k: Int): Seq[String]
  /** Input bytes a pass consumes. */
  def inputBytes: Long
  /** Directories holding the output tables. */
  def outputRoot: Path
  /** Traced-run counters measured outside the spans, by name. */
  def tracedCounters(spark: SparkSession): Map[String, Double] = Map.empty
}

object Workload {
  val Names: Seq[String] = Seq("medallion_batch", "llm_curation")

  def apply(name: String, work: Path, seed: Long): Workload = name match {
    case "medallion_batch" => new MedallionBatch(work, seed)
    case "llm_curation" => new LlmCuration(work, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }

  private[perfbench] def expect(what: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$what: got $got, expected $want")

  /** Rows of an error table that failed a blocking rule (null check or
    * strict referential integrity).
    */
  def blocking(errors: DataFrame): Long =
    errors.filter(col("failed_rules").contains("null_checks") || col("failed_rules").contains("ri_")).count()

  /** Row count of a parquet table from its file footers, without a Spark
    * job, so checking a pass stays cheap next to the pass.
    */
  def rows(table: Path): Long = {
    val s = Files.walk(table)
    try s.iterator().asScala.filter { f =>
      val n = f.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
    }.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(new org.apache.parquet.io.LocalInputFile(f))
      try r.getRecordCount finally r.close()
    }.sum
    finally s.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_)) finally s.close()
  }
}

import Workload._

/** Conservation counts of one medallion load under `out`. */
object MedallionCheck {
  def apply(spark: SparkSession, m: Gen.MedallionManifest, out: Path): Seq[String] = {
    def path(layer: String, name: String) = out.resolve(layer).resolve(name)
    def n(layer: String, name: String) = rows(path(layer, name))
    val p = m.params
    val bronzeOrders = n("bronze", "orders")
    val staged = n("silver", "orders_batch")
    val rejected = blocking(read(spark, path("silver", "orders_batch_errors")))
    Seq(
      expect("bronze orders = generated rows", bronzeOrders, m.orderRows),
      expect("silver orders valid + blocking-rejected + duplicates dropped = bronze",
        staged + rejected + m.dupRows, bronzeOrders),
      expect("blocking-rejected orders = planted nulls + orphans", rejected, m.nullRows + m.orphanRows),
      expect("silver orders after upsert = valid generated orders", n("silver", "orders"), m.validOrders),
      expect("silver customers + update duplicates dropped = bronze",
        n("silver", "customers") + m.customerUpdates, p.customers + m.customerUpdates),
      expect("date dim days", n("gold", "dim_date"), m.dateDimDays),
      expect("SCD2 rows = v1 + changed", n("gold", "dim_customer"), p.customers + m.customerUpdates),
      expect("SCD2 current rows = customers",
        read(spark, path("gold", "dim_customer")).filter(col("is_current")).count(), p.customers),
      expect("fact rows = silver orders", n("gold", "fact_orders"), n("silver", "orders")),
      expect("daily summary rows = valid order dates", n("gold", "orders_daily"), m.validOrderDates)
    ).flatten
  }
}

final class MedallionBatch(work: Path, seed: Long) extends Workload {
  private val in = work.resolve("in")
  private val m = Gen.medallion(in, seed)
  val outputRoot: Path = work.resolve("out")
  def manifest: Seq[(String, Any)] = m.toMap

  /** Every pass replays the same day: the order watermark is set back to
    * the day before, so the pickup passes the day's rows.
    */
  override def beforePass(): Unit =
    new graft.operators.Incremental(outputRoot.resolve("watermarks").toString)
      .setWatermark("orders", Gen.loadDay(m.params).minusDays(1).toString)

  def pass(spark: SparkSession, span: Spans, k: Int): Unit =
    Pipelines.medallionBatch(spark, span, m.params, in, outputRoot)
  def check(spark: SparkSession, k: Int): Seq[String] = MedallionCheck(spark, m, outputRoot)
  def inputBytes: Long = m.inputBytes
}

final class LlmCuration(work: Path, seed: Long) extends Workload {
  private val in = work.resolve("in")
  private val m = Gen.docs(in, seed)
  val outputRoot: Path = work.resolve("out")
  private var handles: Option[Pipelines.CurationHandles] = None

  def manifest: Seq[(String, Any)] = m.toMap
  def pass(spark: SparkSession, span: Spans, k: Int): Unit =
    handles = Some(Pipelines.llmCuration(spark, span, in, outputRoot, m.params.docs))

  def check(spark: SparkSession, k: Int): Seq[String] = {
    def t(name: String) = read(spark, outputRoot.resolve(name))
    def n(name: String) = rows(outputRoot.resolve(name))
    val curated = n("curated")
    val deduped = t("deduped")
    val planted = m.exactGroups.flatten ++ m.clusters.flatten
    val kept = deduped.filter(col("doc_id").isin(planted.toSeq: _*)).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val flagged = t("contaminated").select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val dedupedN = n("deduped")
    val clean = n("clean")
    val mix = t("mix").agg(sum("alloc")).head()
    Seq(
      expect("curated = docs - planted low-quality", curated, m.params.docs - m.lowQuality),
      expect("planted exact-duplicate groups with one survivor",
        m.exactGroups.count(g => g.count(kept) == 1).toLong, m.exactGroups.length.toLong),
      expect("near-dup clusters with a survivor",
        m.clusters.count(_.exists(kept)).toLong, m.clusters.length.toLong),
      expect("flagged docs = planted contaminated", flagged.size.toLong, m.contaminated.length.toLong),
      expect("planted contaminated docs flagged", m.contaminated.count(flagged).toLong,
        m.contaminated.length.toLong),
      expect("clean = deduped - contaminated", clean, dedupedN - m.contaminated.length),
      expect("scored = clean", t("scored").filter(col("quality_p").isNotNull).count(), clean),
      expect("mix allocation = budget", if (mix.isNullAt(0)) -1L else mix.getLong(0), m.params.docs.toLong)
    ).flatten
  }

  def inputBytes: Long = m.inputBytes

  /** Verified near-dup pairs per LSH candidate pair. The candidates are
    * counted outside the spans with the public banding operators and the
    * parameters the pass gives `dedupCorpus`; the verified pairs are the
    * pass's own (checkpointed, so counting them is cheap).
    */
  override def tracedCounters(spark: SparkSession): Map[String, Double] = handles match {
    case None => Map.empty
    case Some(h) =>
      import graft.functions.TextAnalysis
      import graft.operators.TextDedup
      import Pipelines.Dedup
      val sh = h.curated.select(col("doc_id"),
        array_distinct(TextAnalysis.shingles(col("text"), Dedup.n)).as("sh"))
      val sigs = sh.select(col("doc_id"), TextDedup.sigFromShinglesFast(col("sh"), Dedup.hashes).as("sig"))
      val candidates = TextDedup.lshCandidates(
        TextDedup.lshBandsFast(sigs, "doc_id", col("sig"), Dedup.bands, Dedup.rowsPerBand),
        "doc_id", Dedup.maxBucket).count()
      Map("operators.textdedup_dedup_corpus.verified_per_candidate" ->
        h.pairs.count().toDouble / math.max(1L, candidates))
  }
}
