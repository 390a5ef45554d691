package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Tests of the benchmark's own measuring code. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("n", IntegerType),
    StructField("x", DoubleType), StructField("s", StringType),
    StructField("ts", TimestampType), StructField("v", ArrayType(FloatType)),
    StructField("m", MapType(StringType, IntegerType)),
    StructField("st", StructType(Seq(StructField("a", StringType), StructField("b", DoubleType))))))

  private val rows: Seq[Row] = (0 until 20).map(i => Row(i.toLong, i % 3, i * 1.5,
    if (i == 4) null else s"r$i", java.sql.Timestamp.valueOf(s"2024-01-01 00:00:${10 + i}"),
    Seq(i.toFloat, -i.toFloat), Map("k" -> i, "j" -> -i), Row(s"a$i", i / 7.0)))

  private def fp(rs: Seq[Row], parts: Int = 1): String =
    Fingerprint.of(spark.createDataFrame(spark.sparkContext.parallelize(rs, parts), schema))

  test("fingerprint ignores row order and partitioning") {
    val base = fp(rows)
    assert(fp(rows.reverse) == base)
    assert(fp(scala.util.Random.shuffle(rows), parts = 3) == base)
  }

  test("fingerprint changes when one value in any one column changes") {
    val base = fp(rows)
    val changed: Seq[Any] = Seq(99L, 7, 2.25, "other",
      java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), Seq(5.0f, 5.0f),
      Map("k" -> 5, "j" -> -4), Row("a5", 0.5))
    schema.fields.indices.foreach { c =>
      val mutated = rows.updated(5, Row.fromSeq(rows(5).toSeq.updated(c, changed(c))))
      assert(fp(mutated) != base, s"column ${schema(c).name}")
    }
    // a null is a value too, and a duplicated row is not the same result
    assert(fp(rows.updated(3, Row.fromSeq(rows(3).toSeq.updated(3, null)))) != base)
    assert(fp(rows :+ rows.head) != base)
  }

  test("fingerprint absorbs last-ulp noise in doubles") {
    val noisy = rows.map { r =>
      val x = r.getDouble(2)
      Row.fromSeq(r.toSeq.updated(2, if (x == 0.0) x else Math.nextUp(x)))
    }
    assert(fp(noisy) == fp(rows))
  }

  test("tail percentile is the highest with at least ten samples beyond it") {
    assert(Stats.tailPercentile(10000) == 99.9)
    assert(Stats.tailPercentile(1000) == 99.0)
    assert(Stats.tailPercentile(999) == 95.0)
    assert(Stats.tailPercentile(200) == 95.0)
    assert(Stats.tailPercentile(199) == 90.0)
    assert(Stats.tailPercentile(60) == 80.0)
    assert(Stats.tailPercentile(45) == 75.0)
    assert(Stats.tailPercentile(39) == 50.0)
    val xs = (1 to 200).map(_.toDouble)
    assert(Stats.tail(xs) == ((95.0, 190.0)))
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("self time subtracts child coverage once and clips children to the parent") {
    val spans = Seq(
      Span(1, 0, "query", "query", 0, 100),
      Span(2, 1, "build", "catalog", 10, 30),
      Span(3, 1, "exec", "spark", 20, 50),   // overlaps build: counted once
      Span(4, 1, "late", "spark", 90, 120),  // runs past the parent: clipped
      Span(5, 3, "plan", "catalyst", 25, 35))
    val self = Trace.selfTimes(spans)
    assert(self(1) == 100 - 40 - 10)
    assert(self(3) == 30 - 10)
    assert(self(2) == 20 && self(5) == 10 && self(4) == 30)
    assert(Trace.selfByLayer(spans)("spark") == (20 + 30) / 1e9)
  }

  test("trace records parent ids and stays empty when disabled") {
    val t = new Trace(enabled = true)
    t.span(0, "run", "run") { r => t.span(r, "round0", "round")(_ => ()) }
    val Seq(run, round) = t.spans
    assert(round.parent == run.id && run.parent == 0)
    val off = new Trace(enabled = false)
    assert(off.span(0, "run", "run")(_ => 42) == 42 && off.spans.isEmpty)
  }

  test("open-loop latency counts from when the request was due") {
    val req = Serving.Req(due = 1000000L, kind = "pie", args = ("1-URGENT", "O", "BUILDING", 6, 1996))
    // queued 4 ms behind a stall, then served in 2 ms: latency is 6 ms
    val d = Serving.Done(req, start = 5000000L, end = 7000000L, late = 0L, answer = Right(Nil))
    assert(Serving.latencyMs(d) == 6.0)
  }

  test("the open-loop schedule is seeded, ordered and of fixed size") {
    val a = Serving.schedule(seed = 7, seconds = 12, rate = 5.0)
    assert(a.size == 60)
    assert(a == Serving.schedule(seed = 7, seconds = 12, rate = 5.0))
    assert(a != Serving.schedule(seed = 8, seconds = 12, rate = 5.0))
    assert(a.map(_.due) == a.map(_.due).sorted && a.head.due > 0)
    assert(a.map(_.kind).toSet == Set("pie", "line", "classify"))
  }

  test("every 20-request block of the closed loop carries the exact mix") {
    val loop = Serving.closedLoop(seed = 3, blocks = 4)
    assert(loop.size == 80)
    loop.grouped(20).foreach { b =>
      assert(b.groupBy(_.kind).map { case (k, v) => k -> v.size } ==
        Map("pie" -> 7, "line" -> 7, "classify" -> 6))
    }
    assert(loop != Serving.closedLoop(seed = 4, blocks = 4))
  }
}
