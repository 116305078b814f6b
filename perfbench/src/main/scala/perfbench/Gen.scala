package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.Random

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Seeded input generator. Every file is a pure function of the seed (one
  * `java.util.Random` stream per file), written without Spark so identical
  * seeds give byte-identical inputs. Each generator returns the planted
  * parameters the correctness checks are derived from; the engine itself
  * only ever sees the files.
  */
object Gen {

  private def rng(seed: Long, stream: Int): Random = new Random(seed * 1000003L + stream)

  /** Zipf(s) sampler over 0 until n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def sample(r: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(UTF_8))
  }

  private def jsonArray(rows: Seq[Seq[(String, Any)]]): String =
    rows.map(_.map { case (k, v) => s""""$k":${jsonValue(v)}""" }.mkString("{", ",", "}"))
      .mkString("[\n", ",\n", "\n]\n")

  def jsonValue(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => jsonValue(x)
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    case x => x.toString
  }

  private def parquet(p: Path, schema: String, rows: Iterator[Group => Unit]): Unit = {
    Files.createDirectories(p.getParent)
    val t = MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(p)).withType(t)
      .withConf(new Configuration(false))
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val f = new SimpleGroupFactory(t)
    try rows.foreach { fill => val g = f.newGroup(); fill(g); w.write(g) }
    finally w.close()
  }

  /** Rows split into `parts` files of contiguous rows, so Spark reads the
    * table with one task per file.
    */
  private def parquetParts(dir: Path, parts: Int, schema: String, rows: IndexedSeq[Group => Unit]): Unit = {
    val per = (rows.size + parts - 1) / parts
    for (i <- 0 until parts)
      parquet(dir.resolve(f"part-$i%03d.parquet"), schema, rows.slice(i * per, (i + 1) * per).iterator)
  }

  private def shuffled(n: Int, r: Random): Array[Int] = {
    val a = (0 until n).toArray
    for (i <- n - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a
  }

  private val DocsParts = 8

  private def money(cents: Long): String = java.math.BigDecimal.valueOf(cents, 2).toPlainString
  private def day(base: java.time.LocalDate, d: Int): String = base.plusDays(d.toLong).toString

  // ------------------------------------------------------------ medallion
  private val Statuses = Seq("pending", "processing", "shipped", "delivered", "cancelled")
  private val Payments = Seq("credit_card", "debit_card", "paypal", "bank_transfer")
  private val Tiers = Seq("bronze", "silver", "gold", "platinum")
  private val States = Seq("CA", "NY", "TX", "WA", "IL", "MA", "FL", "OR")
  private val Cities = (1 to 40).map(i => s"city_$i")
  val OrderStart: java.time.LocalDate = java.time.LocalDate.parse("2025-01-01")
  /** The day of the daily load: the last order date. */
  def loadDay(p: MedallionParams): java.time.LocalDate = OrderStart.plusDays(p.orderDays - 1L)

  /** Sizes and fault rates of the medallion inputs. The defaults are the
    * benchmark's workload parameters (see perfbench/README.md for why).
    */
  final case class MedallionParams(
      orders: Int = 6000, customers: Int = 1000, orderDays: Int = 14, zipfS: Double = 1.1,
      dupShare: Double = 0.02, nullShare: Double = 0.004, orphanShare: Double = 0.005,
      badStatusShare: Double = 0.002, negativeShare: Double = 0.002,
      badPostalShare: Double = 0.002, customerUpdateShare: Double = 0.10)

  /** Planted facts about the batch inputs, from which every conservation
    * count of the batch check follows.
    */
  final case class MedallionManifest(
      params: MedallionParams, orderRows: Int, dupRows: Int, nullRows: Int, orphanRows: Int,
      warnRows: Int, customerUpdates: Int, validOrderDates: Int, dateDimDays: Int,
      inputBytes: Long) {
    def validOrders: Int = params.orders - nullRows - orphanRows
    def toMap: Seq[(String, Any)] = Seq(
      "orders" -> params.orders, "order_rows" -> orderRows, "dup_rows" -> dupRows,
      "null_customer_rows" -> nullRows, "orphan_rows" -> orphanRows,
      "warning_rows" -> warnRows, "valid_orders" -> validOrders,
      "customers" -> params.customers, "customer_updates" -> customerUpdates,
      "valid_order_dates" -> validOrderDates, "date_dim_days" -> dateDimDays,
      "zipf_s" -> params.zipfS, "input_bytes" -> inputBytes)
  }

  private def orderLine(id: Long, cust: Option[Long], date: String, status: String,
      totalCents: Long, postal: String, r: Random): String = {
    val tax = totalCents * 8 / 108
    val disc = if (r.nextInt(4) == 0) r.nextInt(2000).toLong else 0L
    Seq(id.toString, cust.fold("")(_.toString), date,
      f"${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d",
      status, Payments(r.nextInt(Payments.size)), Cities(r.nextInt(Cities.size)),
      States(r.nextInt(States.size)), postal, money(totalCents), money(tax),
      money(if (totalCents > 5000) 0L else 599L), money(disc),
      if (disc > 0) s"SAVE${r.nextInt(30)}" else "",
      if (r.nextInt(5) == 0) "leave at door" else "").mkString("|")
  }

  private val OrderHeader = "order_id|customer_id|order_date|order_time|order_status|" +
    "payment_method|shipping_city|shipping_state|shipping_postal_code|order_total|" +
    "tax_amount|shipping_fee|discount_amount|discount_code|notes"

  private def postal(r: Random): String = f"${10000 + r.nextInt(89999)}%05d"

  /** Order status as delivered by the source: mixed case and padding that
    * silver's `lower(trim(...))` cleans up.
    */
  private def rawStatus(r: Random): String = {
    val s = Statuses(r.nextInt(Statuses.size))
    if (r.nextInt(10) == 0) s" ${s.capitalize} " else s
  }

  def medallion(dir: Path, seed: Long, p: MedallionParams = MedallionParams()): MedallionManifest = {
    val n = p.orders
    val r = rng(seed, 1)
    val perm = shuffled(n, r)
    def cnt(share: Double) = math.round(n * share).toInt
    val sizes = Seq(cnt(p.nullShare), cnt(p.orphanShare), cnt(p.badStatusShare),
      cnt(p.negativeShare), cnt(p.badPostalShare), cnt(p.dupShare))
    val bounds = sizes.scanLeft(0)(_ + _)
    val fault = new Array[Int](n) // 0 clean, 1 null, 2 orphan, 3..5 warnings, 6 dup source
    for (f <- sizes.indices; i <- bounds(f) until bounds(f + 1)) fault(perm(i)) = f + 1
    val zipf = new Zipf(p.customers, p.zipfS)
    val orderDate = Array.fill(n)(r.nextInt(p.orderDays))
    val sb = new StringBuilder(OrderHeader).append('\n')
    val dupLines = mutable.ArrayBuffer.empty[String]
    for (i <- 0 until n) {
      val id = i + 1L
      val cust = fault(i) match {
        case 1 => None
        case 2 => Some(p.customers + 1L + r.nextInt(1000))
        case _ => Some(zipf.sample(r) + 1L)
      }
      val status = if (fault(i) == 3) "on_hold" else rawStatus(r)
      val total = if (fault(i) == 4) -(100L + r.nextInt(5000)) else 500L + r.nextInt(200000)
      val pc = if (fault(i) == 5) "AB" + r.nextInt(999) else postal(r)
      val date = day(OrderStart, orderDate(i))
      sb.append(orderLine(id, cust, date, status, total, pc, r)).append('\n')
      // a re-delivery of the same order after it progressed
      if (fault(i) == 6) dupLines += orderLine(id, cust, date, "delivered", total, pc, r)
    }
    dupLines.foreach(l => sb.append(l).append('\n'))
    write(dir.resolve("orders.csv"), sb.toString)

    // customers: initial snapshot + an update file re-issuing ~10% with a
    // changed tier and city (type-2) and email (type-1)
    val rc = rng(seed, 3)
    def customer(id: Int, tier: String, city: String, email: String) = Seq(
      "customer_id" -> id.toLong, "first_name" -> s"first$id", "last_name" -> s"last${id % 977}",
      "email" -> email, "phone" -> f"555-${id % 1000}%03d-${id % 10000}%04d",
      "city" -> city, "state" -> States(id % States.size), "postal_code" -> f"${10000 + id}%05d",
      "customer_status" -> (if (id % 11 == 0) "inactive" else "active"),
      "registration_date" -> day(OrderStart.minusDays(900), id % 900),
      "customer_tier" -> tier, "marketing_opt_in" -> (id % 3 == 0))
    val tiers = Array.fill(p.customers)(rc.nextInt(Tiers.size))
    val cities = Array.fill(p.customers)(rc.nextInt(Cities.size))
    write(dir.resolve("customers_initial.json"), jsonArray((0 until p.customers).map(i =>
      customer(i + 1, Tiers(tiers(i)), Cities(cities(i)), s"user${i + 1}@example.com"))))
    val nUpd = math.round(p.customers * p.customerUpdateShare).toInt
    val updIds = rc.ints(0, p.customers).distinct().limit(nUpd.toLong).toArray.sorted
    write(dir.resolve("customers_update.json"), jsonArray(updIds.toSeq.map(i =>
      customer(i + 1, Tiers((tiers(i) + 1 + rc.nextInt(Tiers.size - 1)) % Tiers.size),
        Cities((cities(i) + 1 + rc.nextInt(Cities.size - 1)) % Cities.size),
        s"user${i + 1}@mail.example.org"))))

    val validDates = (0 until n).filter(i => fault(i) != 1 && fault(i) != 2).map(orderDate).distinct.size
    MedallionManifest(p, orderRows = n + dupLines.size, dupRows = dupLines.size,
      dateDimDays = p.orderDays + 365,
      nullRows = sizes(0), orphanRows = sizes(1), warnRows = sizes(2) + sizes(3) + sizes(4),
      customerUpdates = nUpd, validOrderDates = validDates,

      inputBytes = dirBytes(dir))
  }

  // ------------------------------------------------------------------ docs
  final case class DocsParams(
      docs: Int = 2000, vocab: Int = 2000, minTokens: Int = 16, maxTokens: Int = 100,
      lowQualityShare: Double = 0.15, clusterShare: Double = 0.10, contaminatedShare: Double = 0.01,
      benchItems: Int = 200, labeled: Int = 400, contaminationRun: Int = 16)

  final case class DocsManifest(params: DocsParams, lowQuality: Int, clusters: Array[Array[Long]],
      clusterDocs: Int, exactGroups: Array[Array[Long]], contaminated: Array[Long],
      inputBytes: Long) {
    def toMap: Seq[(String, Any)] = Seq(
      "docs" -> params.docs, "low_quality" -> lowQuality, "clusters" -> clusters.length,
      "cluster_docs" -> clusterDocs, "exact_dup_groups" -> exactGroups.length,
      "exact_dup_docs" -> exactGroups.map(_.length).sum, "contaminated" -> contaminated.length,
      "bench_items" -> params.benchItems, "labeled" -> params.labeled, "input_bytes" -> inputBytes)
  }

  private val LangMix = Seq("en" -> 0.40, "de" -> 0.15, "fr" -> 0.15, "es" -> 0.15, "zh" -> 0.15)
  private val SourceMix = Seq("web" -> 0.55, "books" -> 0.30, "code" -> 0.15)
  private val Spam = (1 to 40).map(i => s"deal$i") ++ Seq("click", "free", "buy", "now", "winner", "offer")

  private def pick[T](mix: Seq[(T, Double)], r: Random): T = {
    var u = r.nextDouble()
    mix.find { case (_, w) => u -= w; u < 0 }.getOrElse(mix.last)._1
  }

  def docs(dir: Path, seed: Long, p: DocsParams = DocsParams()): DocsManifest = {
    val r = rng(seed, 20)
    // synthetic words of 2-4 syllables; distinct from every marker word
    val syl = Seq("ka", "lo", "mi", "ta", "re", "su", "no", "vi", "pe", "ra", "zo", "qui", "ban", "tel", "dor")
    val markers = graft.functions.TextAnalysis.langMarkers.toMap
    val markerWords = markers.values.flatten.toSet
    val vocab = Iterator.continually(
      (0 until 2 + r.nextInt(3)).map(_ => syl(r.nextInt(syl.size))).mkString)
      .filterNot(markerWords).distinct.take(p.vocab).toArray
    val zipf = new Zipf(p.vocab, 1.0)
    def body(lang: String, len: Int, rr: Random): Array[String] = {
      val mk = markers(lang)
      val t = Array.fill(len)(if (rr.nextInt(12) == 0) mk(rr.nextInt(mk.size)) else vocab(zipf.sample(rr)))
      t(rr.nextInt(len)) = mk(rr.nextInt(mk.size)) // at least one language marker
      t
    }
    def len(rr: Random) = p.minTokens + rr.nextInt(p.maxTokens - p.minTokens + 1)

    val rb = rng(seed, 21)
    val bench = (0 until p.benchItems).map(i => i.toLong -> body("en", 20 + rb.nextInt(21), rb))
    parquet(dir.resolve("bench.parquet"),
      "message bench { required int64 bench_id; required binary text (UTF8); }",
      bench.iterator.map { case (id, t) => (g: Group) => g.append("bench_id", id).append("text", t.mkString(" ")); () })

    // planted roles at seeded random positions, so every file split holds
    // the same mix
    val n = p.docs
    val nLow = math.round(n * p.lowQualityShare).toInt
    val nCont = math.round(n * p.contaminatedShare).toInt
    val nClusterTarget = math.round(n * p.clusterShare).toInt
    val slots = shuffled(n, r)
    var next = 0
    def take(k: Int): Array[Int] = { val a = slots.slice(next, next + k).sorted; next += k; a }
    val texts = new Array[String](n)
    val langs = Array.fill(n)(pick(LangMix, r))
    for (i <- 0 until n) texts(i) = body(langs(i), len(r), r).mkString(" ")
    // low-quality: half repetitive phrases, half too short
    for ((i, j) <- take(nLow).zipWithIndex) {
      val mk = markers(langs(i))
      texts(i) =
        if (j % 2 == 0) {
          val phrase = Seq(mk.head, vocab(zipf.sample(r)), vocab(zipf.sample(r)))
          Seq.fill(10 + r.nextInt(15))(phrase).flatten.mkString(" ")
        } else (mk.head +: Seq.fill(2 + r.nextInt(3))(vocab(zipf.sample(r)))).mkString(" ")
    }
    val contaminated = take(nCont).map { i =>
      val t = texts(i).split(" ")
      val b = bench(r.nextInt(bench.size))._2
      val start = r.nextInt(b.length - p.contaminationRun + 1)
      val at = r.nextInt(t.length + 1)
      texts(i) = (t.take(at) ++ b.slice(start, start + p.contaminationRun) ++ t.drop(at)).mkString(" ")
      i.toLong
    }
    // near-duplicate clusters of 2..8 docs: the lowest id is the base, the
    // next an exact copy, the rest copies with ~4% of tokens substituted
    val groups = mutable.ArrayBuffer.empty[Array[Long]]
    val clusterIds = mutable.ArrayBuffer.empty[Array[Long]]
    var clusterDocs = 0
    while (clusterDocs < nClusterTarget) {
      val ids = take(2 + r.nextInt(7))
      val t = texts(ids(0)).split(" ")
      texts(ids(1)) = texts(ids(0))
      for (m <- ids.drop(2)) {
        val c = t.clone()
        // substitutions keep the language markers, so an edit never
        // changes the predicted language
        val editable = c.indices.filterNot(j => markerWords(c(j)))
        for (_ <- 0 until math.max(1, c.length / 25)) c(editable(r.nextInt(editable.size))) = vocab(zipf.sample(r))
        texts(m) = c.mkString(" ")
      }
      groups += Array(ids(0).toLong, ids(1).toLong)
      clusterIds += ids.map(_.toLong)
      clusterDocs += ids.length
    }
    val sources = Array.fill(n)(pick(SourceMix, r))
    parquetParts(dir.resolve("docs"), DocsParts,
      """message docs { required int64 doc_id; required binary text (UTF8); required binary lang (UTF8);
        | required binary source (UTF8); required int64 n_chars; }""".stripMargin,
      (0 until n).map { i => (g: Group) =>
        g.append("doc_id", i.toLong).append("text", texts(i)).append("lang", langs(i))
          .append("source", sources(i)).append("n_chars", texts(i).length.toLong); () })

    // labeled slice: reference-like docs (1) vs spam-vocabulary docs (0)
    val rl = rng(seed, 22)
    parquetParts(dir.resolve("labeled"), DocsParts,
      """message labeled { required int64 doc_id; required binary text (UTF8); required int32 label; }""",
      (0 until p.labeled).map { i => (g: Group) =>
        val good = i % 2 == 0
        val t = body(pick(LangMix, rl), len(rl), rl)
        if (!good) for (j <- t.indices if rl.nextInt(3) == 0) t(j) = Spam(rl.nextInt(Spam.size))
        g.append("doc_id", 1000000L + i).append("text", t.mkString(" ")).append("label", if (good) 1 else 0); () })

    DocsManifest(p, lowQuality = nLow, clusters = clusterIds.toArray, clusterDocs = clusterDocs,
      exactGroups = groups.toArray, contaminated = contaminated, inputBytes = dirBytes(dir))
  }

  def dirBytes(dir: Path): Long = {
    val s = Files.walk(dir)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }
}
