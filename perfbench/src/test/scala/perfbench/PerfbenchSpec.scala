package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own checks: seeded inputs, the statistics it reports,
  * the span arithmetic, and that a correctness check fails on a corrupted
  * output.
  */
class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val scratch = Paths.get("target", "perfbench-spec").toAbsolutePath
  private val small = Gen.MedallionParams(orders = 800, customers = 120)
  private lazy val spark = SparkSession.builder().master("local[2]").appName("perfbench-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", scratch.resolve("spark-local").toString)
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .getOrCreate()

  override def beforeAll(): Unit = {
    Workload.deleteTree(scratch)
    Files.createDirectories(scratch)
  }

  override def afterAll(): Unit = spark.stop()

  private def files(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => dir.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
    finally s.close()
  }

  private def generate(name: String, seed: Long): Path = {
    val dir = scratch.resolve(name)
    val m = Gen.medallion(dir, seed, small)
    Gen.docs(dir, seed, Gen.DocsParams(docs = 400, labeled = 40))
    dir
  }

  test("the generator is deterministic per seed and differs across seeds") {
    val a = files(generate("gen-a", 7))
    val b = files(generate("gen-b", 7))
    val c = files(generate("gen-c", 8))
    assert(a.keySet.nonEmpty && a.keySet == b.keySet && a.keySet == c.keySet)
    a.keys.foreach(f => assert(a(f) == b(f), s"$f differs between two runs with seed 7"))
    assert(a.keys.count(f => a(f) != c(f)) == a.size, "every input must change with the seed")
  }

  test("the tail is the highest percentile with at least ten samples beyond it") {
    def samples(n: Int) = (1 to n).map(_.toDouble).reverse
    assert(Stats.tail(samples(5)) == (50, 3.0))
    assert(Stats.tail(samples(2)) == (50, 1.5))
    assert(Stats.tail(samples(19)) == (50, 10.0))
    assert(Stats.tail(samples(20)) == (50, 10.0))
    assert(Stats.tail(samples(30)) == (66, 20.0))
    assert(Stats.tail(samples(100)) == (90, 90.0))
    for (n <- 1 to 300) {
      val (p, v) = Stats.tail(samples(n))
      val beyond = samples(n).count(_ > v)
      assert(beyond >= 10 || (p == 50 && n < 20), s"n=$n p$p leaves $beyond beyond")
      if (p < 99) assert(n - Stats.rank(p + 1, n) < 10, s"n=$n: p${p + 1} also qualifies")
    }
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("a span's self time is its duration minus what its children cover") {
    val s = 1000000000L
    val spans = Seq(
      Span(0, Tracer.Root, 1, -1, 0, 10 * s),
      Span(1, "medallion.silver_load", 1, 0, 1 * s, 3 * s),
      Span(2, "medallion.gold_fact", 1, 0, 4 * s, 7 * s),
      Span(3, "medallion.summarize", 1, 0, 9 * s, 12 * s)) // runs past its parent
    val self = Tracer.selfSeconds(spans)
    assert(self(0) == 10.0 - 2.0 - 3.0 - 1.0)
    assert(self(1) == 2.0 && self(2) == 3.0 && self(3) == 3.0)
    assert(spans.map(x => self(x.id)).sum == 10.0 + 2.0) // the overhang is counted once
  }

  test("the batch check passes on a correct load and catches one dropped silver row") {
    val in = scratch.resolve("check-in")
    val out = scratch.resolve("check-out")
    val m = Gen.medallion(in, 3, small)
    Pipelines.medallionBatch(spark, Spans.off, small, in, out)
    assert(MedallionCheck(spark, m, out).isEmpty)

    def dropOneRow(table: String, partitionBy: Seq[String]): Seq[String] = {
      val path = out.resolve("silver").resolve(table)
      val copy = scratch.resolve(s"$table-minus-one")
      Pipelines.write(Pipelines.read(spark, path).orderBy("order_id").offset(1), copy, partitionBy = partitionBy)
      Workload.deleteTree(path)
      Files.move(copy, path)
      MedallionCheck(spark, m, out)
    }
    val staged = dropOneRow("orders_batch", Nil)
    assert(staged.exists(_.startsWith("silver orders valid + blocking-rejected + duplicates dropped = bronze")))
    val upserted = dropOneRow("orders", Seq("order_date"))
    assert(upserted.exists(_.startsWith("silver orders after upsert = valid generated orders")))
    assert(upserted.exists(_.startsWith("fact rows = silver orders")))
  }

  test("the bloom probe reads the prefilter's and the join's rows off the executed plan") {
    val session = spark
    import session.implicits._
    val corpus = Seq((1L, "one two three four five six seven eight nine ten"),
      (2L, "red green blue cyan magenta yellow black white gray pink")).toDF("doc_id", "text")
    val bench = Seq((10L, "zero one two three four five six seven eight zed")).toDF("bench_id", "text")
    val probe = new BloomProbe
    spark.listenerManager.register(probe)
    try {
      Pipelines.write(graft.operators.TextDedup.contaminationBloom(corpus, bench, "doc_id", "bench_id", "text",
        3, 1), scratch.resolve("bloom-hits"))
      org.apache.spark.BenchBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(probe)
    // doc 1 shares six 3-token shingles with the bench item; doc 2 none
    assert(probe.joined == 6)
    assert(probe.passed >= 6 && probe.passed <= 16)
  }

  test("BENCHMARK.json lists exactly the metrics the benchmark prints") {
    val json = JsonMethods.parse(new String(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")), "UTF-8"))
    def names(key: String) = (json \ key).children.map(m => (m \ "name").values.toString)
    assert(names("per_layer") == Layers.names.map(_._1))
    assert(names("end_to_end").toSet ==
      Set("setup_s", "pass_s_p50", "pass_s_tail", "cpu_s_per_pass", "write_amp", "live_heap_mb"))
    assert(names("workloads") == Workload.Names)
    val units = (json \ "per_layer").children.map(m => (m \ "unit").values.toString)
    assert(units == Layers.names.map(_._2))
  }
}
