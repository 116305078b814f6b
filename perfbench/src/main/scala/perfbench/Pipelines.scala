package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.TableConfig
import graft.config.TableConfig.Table
import graft.medallion.Medallion
import graft.operators.{Classifier, Curation, Incremental, Sampling, TextDedup, Upsert}

/** The benchmark's pipelines, written against the engine's public entry
  * points only. Every call into a layer runs inside a span, and the span
  * covers the call plus the write that materializes the layer's table; the
  * next layer reads that table back, as a persisted medallion run does.
  */
object Pipelines {

  def read(spark: SparkSession, p: Path): DataFrame = spark.read.parquet(p.toString)

  def write(df: DataFrame, p: Path, mode: SaveMode = SaveMode.Overwrite,
      partitionBy: Seq[String] = Nil): Unit =
    df.write.mode(mode).partitionBy(partitionBy: _*).parquet(p.toString)

  // ------------------------------------------------------------- configs
  /** Inline configs in the engine's `TableConfig` dialect. */
  final case class Configs(bronzeOrders: Table, bronzeCustomers: Table, silverOrders: Table,
      silverCustomers: Table, dimDate: Table, dimCustomer: Table, factOrders: Table)

  private val orderColumns = Seq("order_id" -> "long", "customer_id" -> "long",
    "order_date" -> "date", "order_time" -> "string", "order_status" -> "string",
    "payment_method" -> "string", "shipping_city" -> "string", "shipping_state" -> "string",
    "shipping_postal_code" -> "string", "order_total" -> "decimal(10,2)",
    "tax_amount" -> "decimal(10,2)", "shipping_fee" -> "decimal(10,2)",
    "discount_amount" -> "decimal(10,2)", "discount_code" -> "string", "notes" -> "string")
  private val customerColumns = Seq("customer_id" -> "long", "first_name" -> "string",
    "last_name" -> "string", "email" -> "string", "phone" -> "string", "city" -> "string",
    "state" -> "string", "postal_code" -> "string", "customer_status" -> "string",
    "registration_date" -> "date", "customer_tier" -> "string", "marketing_opt_in" -> "boolean")
  private def cols(cs: Seq[(String, String)], transform: Map[String, String] = Map.empty): String =
    cs.map { case (n, t) =>
      val tr = transform.get(n).fold("")(x => s""", "transformation": "$x"""")
      s"""{"name": "$n", "datatype": "$t", "nullable": true$tr}"""
    }.mkString("[", ",\n", "]")

  private def bronze(name: String, format: String, file: String, pk: Seq[String],
      cs: Seq[(String, String)]): String = {
    val csv = if (format == "csv") """"delimiter": "|", "header": true,""" else ""
    s"""{"table_name": "bronze_$name", "source_system": "shop", "file_format": "$format",
       | "file_path": "$file", $csv "primary_keys": [${pk.map(k => s""""$k"""").mkString(",")}],
       | "partition_by": ["ingestion_date"], "columns": ${cols(cs)}}""".stripMargin
  }

  /** The JSON documents of every table the medallion workload loads; the
    * date dimension runs from the first order date to a year past `lastLoad`.
    */
  def configJson(lastLoad: java.time.LocalDate): Seq[String] = {
    val lastDay = lastLoad.plusDays(365L)
    Seq(
      bronze("orders", "csv", "orders.csv", Seq("order_id"), orderColumns),
      bronze("customers", "json", "customers_initial.json", Seq("customer_id"), customerColumns),
      s"""{"table_name": "silver_orders", "source_table": "bronze_orders", "load_type": "upsert",
         | "primary_keys": ["order_id"], "partition_by": ["order_date"],
         | "columns": ${cols(orderColumns, Map("order_status" -> "lower(trim(order_status))",
              "shipping_state" -> "upper(shipping_state)", "discount_code" -> "nullif(discount_code, '')",
              "notes" -> "nullif(notes, '')"))},
         | "data_quality_rules": {
         |   "null_checks": ["order_id", "customer_id"],
         |   "uniqueness_checks": ["order_id"],
         |   "value_constraints": {
         |     "order_status": ["pending", "processing", "shipped", "delivered", "cancelled"],
         |     "order_total": ">= 0"},
         |   "format_validations": {"shipping_postal_code": "^[0-9]{5}$$"},
         |   "referential_integrity": {
         |     "customer_id": {"reference_table": "silver_customers", "reference_column": "customer_id"}}}}""".stripMargin,
      s"""{"table_name": "silver_customers", "source_table": "bronze_customers",
         | "primary_keys": ["customer_id"],
         | "columns": ${cols(customerColumns, Map("email" -> "lower(trim(email))",
              "customer_tier" -> "lower(customer_tier)"))},
         | "data_quality_rules": {
         |   "null_checks": ["customer_id", "email"],
         |   "value_constraints": {"customer_tier": ["bronze", "silver", "gold", "platinum"]},
         |   "format_validations": {"email": "^[^@]+@[^@]+$$"}}}""".stripMargin,
      s"""{"table_name": "dim_date", "date_range": {"start_date": "${Gen.OrderStart}",
         |   "end_date": "$lastDay"},
         | "columns": [
         |  {"name": "date_key", "datatype": "integer", "calculation": "cast(date_format(date, 'yyyyMMdd') as int)"},
         |  {"name": "date", "datatype": "date"},
         |  {"name": "year", "datatype": "integer", "calculation": "year(date)"},
         |  {"name": "month", "datatype": "integer", "calculation": "month(date)"},
         |  {"name": "day_of_week", "datatype": "integer", "calculation": "dayofweek(date)"},
         |  {"name": "is_weekend", "datatype": "boolean", "calculation": "dayofweek(date) IN (1, 7)"}]}""".stripMargin,
      """{"table_name": "dim_customer", "source_table": "silver_customers",
        | "dimension_type": "scd_type2", "business_key": "customer_id",
        | "surrogate_key": "customer_key", "columns": [],
        | "scd_config": {"type2_columns": ["customer_tier", "city", "state"],
        |   "type1_columns": ["email"], "hash_columns": ["customer_tier", "city", "state"],
        |   "hash_delimiter": "|"}}""".stripMargin,
      """{"table_name": "fact_orders", "source_table": "silver_orders", "fact_type": "transaction",
        | "grain": "one row per order",
        | "columns": [
        |  {"name": "order_key", "datatype": "bigint", "nullable": false, "is_surrogate_key": true},
        |  {"name": "order_id", "datatype": "bigint", "nullable": false, "is_business_key": true},
        |  {"name": "customer_key", "datatype": "bigint", "is_dimension_key": true,
        |   "references": {"dimension": "dim_customer", "join_type": "point_in_time",
        |                  "join_logic": "order_date BETWEEN valid_from AND valid_to"}},
        |  {"name": "order_date_key", "datatype": "integer", "is_dimension_key": true,
        |   "references": {"dimension": "dim_date", "join_type": "direct",
        |     "join_logic": "order_date_key = cast(date_format(order_date, 'yyyyMMdd') as int)"}},
        |  {"name": "order_status", "datatype": "string"},
        |  {"name": "order_total", "datatype": "decimal(10,2)"},
        |  {"name": "tax_amount", "datatype": "decimal(10,2)"},
        |  {"name": "shipping_fee", "datatype": "decimal(10,2)"},
        |  {"name": "discount_amount", "datatype": "decimal(10,2)"},
        |  {"name": "net_total", "datatype": "decimal(12,2)",
        |   "calculation": "order_total - discount_amount"}],
        | "measures": [{"name": "order_total", "aggregation": "SUM"},
        |   {"name": "tax_amount", "aggregation": "SUM"},
        |   {"name": "net_total", "aggregation": "SUM"}]}""".stripMargin)
  }

  def parseConfigs(json: Seq[String]): Configs = {
    val t = json.map(TableConfig.fromJsonString)
    Configs(t(0), t(1), t(2), t(3), t(4), t(5), t(6))
  }

  private def file(c: Table, f: String): Table = c.copy(filePath = Some(f))
  private def ts(s: String): Column = lit(s).cast("timestamp")

  /** Load times of the initial customer file and of the daily load. */
  def initialLoad: String = s"${Gen.OrderStart} 00:00:00"
  def updateLoad(p: Gen.MedallionParams): String = s"${Gen.loadDay(p)} 00:00:00"

  // ------------------------------------------------------ medallion batch
  /** One daily bronze → silver → gold load of the inputs in `in` into the
    * tables under `out`:
    *  - bronze: orders (CSV) into a table partitioned by ingestion date, and
    *    the initial and update customer files (JSON arrays);
    *  - the day's orders picked up past the `yesterday` watermark;
    *  - silver: the initial customers, the current customers (update wins),
    *    and the orders (DQ + keep-latest dedup + RI against customers) staged
    *    and then upserted into the date-partitioned silver orders;
    *  - gold: the date dimension, the SCD2 customer dimension loaded twice
    *    (initial, then the current customers), the point-in-time order fact
    *    and its daily summary.
    * The order watermark advances to the load day once gold is committed.
    */
  def medallionBatch(spark: SparkSession, span: Spans, p: Gen.MedallionParams,
      in: Path, out: Path): Unit = {
    val c = span("config.parse")(parseConfigs(configJson(Gen.loadDay(p))))
    val t0 = ts(initialLoad)
    val tU = ts(updateLoad(p))
    def b(t: String) = out.resolve("bronze").resolve(t)
    def s(t: String) = out.resolve("silver").resolve(t)
    def g(t: String) = out.resolve("gold").resolve(t)

    def ingest(cfg: Table, name: String, loadTs: Column, partitionBy: Seq[String] = Nil): Unit =
      span("medallion.bronze_ingest")(write(Medallion.bronzeIngest(spark, cfg, in.toString, loadTs), b(name),
        partitionBy = partitionBy))
    ingest(c.bronzeOrders, "orders", tU, c.bronzeOrders.partitionBy)
    ingest(c.bronzeCustomers, "customers_initial", t0)
    ingest(file(c.bronzeCustomers, "customers_update.json"), "customers_update", tU)

    // a lazy, partition-pruned filter: its work lands in the silver load
    val wm = new Incremental(out.resolve("watermarks").toString)
    val orders = span("operators.incremental_pickup")(
      wm.pickup(read(spark, b("orders")), "orders", col("ingestion_date")))

    def silver(bronzeDf: DataFrame, cfg: Table, name: String,
        parents: Map[String, DataFrame] = Map.empty): Unit = span("medallion.silver_load") {
      val res = Medallion.silverLoad(bronzeDf, cfg, parents)
      write(res.valid, s(name))
      write(res.errors, s(s"${name}_errors"))
    }
    silver(read(spark, b("customers_initial")), c.silverCustomers, "customers_v1")
    silver(read(spark, b("customers_initial")).unionByName(read(spark, b("customers_update"))),
      c.silverCustomers, "customers")
    silver(orders, c.silverOrders, "orders_batch", Map("silver_customers" -> read(spark, s("customers"))))

    span("operators.upsert_merge_write") {
      val batch = read(spark, s("orders_batch"))
      val target = s("orders")
      if (!java.nio.file.Files.exists(target)) write(batch, target, partitionBy = c.silverOrders.partitionBy)
      else {
        val dates = batch.select("order_date").distinct().collect().map(_.getDate(0))
        Upsert.mergeWrite(read(spark, target).filter(col("order_date").isin(dates.toSeq: _*)), batch,
          c.silverOrders.primaryKeys, target.toString, c.silverOrders.partitionBy)
      }
    }

    span("medallion.gold_dim_date")(write(Medallion.goldDimDate(spark, c.dimDate), g("dim_date")))
    span("medallion.gold_dim_scd2")(write(
      Medallion.goldDimScd2(None, read(spark, s("customers_v1")), c.dimCustomer, t0), g("dim_customer_v1")))
    span("medallion.gold_dim_scd2")(write(
      Medallion.goldDimScd2(Some(read(spark, g("dim_customer_v1"))), read(spark, s("customers")),
        c.dimCustomer, tU), g("dim_customer")))
    span("medallion.gold_fact")(write(
      Medallion.goldFact(read(spark, s("orders")), c.factOrders,
        Map("dim_customer" -> read(spark, g("dim_customer"))), Map("dim_customer" -> "customer_id"),
        "order_date"), g("fact_orders")))
    span("medallion.summarize")(write(
      Medallion.summarize(read(spark, g("fact_orders")), c.factOrders, Seq("order_date_key")),
      g("orders_daily")))
    wm.setWatermark("orders", Gen.loadDay(p).toString)
  }

  // ------------------------------------------------------- LLM curation
  val CurationRules: Curation.Rules = Curation.Rules(
    allowedLangs = Seq("en", "de", "fr", "es", "zh"), minQuality = 0.3,
    maxRepetition = 0.5, minTokens = 8, maxTokens = 400)
  val ContaminationN = 8
  val ContaminationMinShared = 4
  val ClassifierDim = 4096
  val ClassifierEpochs = 2
  val MixMaxRepeat = 3
  /** Water-filling rounds: one per source domain is always exact. */
  val MixRounds = 3

  /** The near-dup parameters the pass gives `dedupCorpus` (its defaults,
    * written out so the traced run counts LSH candidates with the same).
    */
  object Dedup {
    val n = 3
    val hashes = 8
    val bands = 4
    val rowsPerBand = 2
    val maxBucket: Option[Int] = Some(100)
  }

  /** What a curation pass leaves for the traced run's ratio counter. */
  final case class CurationHandles(curated: DataFrame, pairs: DataFrame)

  /** curate → near-dup dedup → benchmark decontamination → quality
    * classifier → capped domain mix, over the corpus in `in`.
    */
  def llmCuration(spark: SparkSession, span: Spans, in: Path, out: Path,
      mixBudget: Long): CurationHandles = {
    def o(t: String) = out.resolve(t)
    span("operators.curation_filter")(write(
      Curation.filter(read(spark, in.resolve("docs")), "text", CurationRules), o("curated")))
    val curated = read(spark, o("curated"))
    val pairs = span("operators.textdedup_dedup_corpus") {
      val dedup = TextDedup.dedupCorpus(curated, "doc_id", "text", Dedup.n, Dedup.hashes, Dedup.bands,
        Dedup.rowsPerBand, maxBucket = Dedup.maxBucket)
      write(dedup.keepOne(curated), o("deduped"))
      dedup.pairs
    }
    val deduped = read(spark, o("deduped"))
    span("operators.textdedup_contamination_bloom") {
      val bench = read(spark, in.resolve("bench.parquet"))
      val hits = TextDedup.contaminationBloom(deduped, bench, "doc_id", "bench_id", "text",
        ContaminationN, ContaminationMinShared)
      write(hits, o("contaminated"))
      write(deduped.join(read(spark, o("contaminated")).select("doc_id"), Seq("doc_id"), "left_anti"),
        o("clean"))
    }
    val weights = span("operators.classifier_train") {
      val trained = Classifier.train(read(spark, in.resolve("labeled")), "doc_id", "text", "label",
        ClassifierDim, ClassifierEpochs)
      write(trained, o("classifier"))
      Classifier.weights(read(spark, o("classifier")))
    }
    span("operators.classifier_score")(write(
      Classifier.score(read(spark, o("clean")), "text", weights, ClassifierDim), o("scored")))
    span("operators.sampling_capped_mix")(write(
      Sampling.cappedMix(read(spark, o("scored")), "source", mixBudget, MixMaxRepeat, MixRounds), o("mix")))
    CurationHandles(curated, pairs)
  }
}
