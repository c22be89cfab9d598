package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]").appName("perfbench-spec")
    .config("spark.sql.shuffle.partitions", "3")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("ERROR")
  override def afterAll(): Unit = spark.stop()

  private def frame(rows: Seq[(Long, String, Double)]): DataFrame =
    spark.createDataFrame(rows).toDF("id", "s", "x")

  private val rows = (1L to 200L).map(i => (i, s"v$i", i / 7.0))

  test("the digest ignores row order and partitioning") {
    val a = Digest.of(frame(rows), "a")
    val b = Digest.of(frame(rows.reverse).repartition(5), "b")
    val c = Digest.of(frame(rows).orderBy(org.apache.spark.sql.functions.desc("x")), "c")
    assert(a.rows == 200)
    assert(a == b)
    assert(a == c)
  }

  test("the digest changes when one value changes") {
    val base = Digest.of(frame(rows), "a")
    val changed = Digest.of(frame(rows.updated(57, (58L, "v58", 1e9))), "b")
    val renamed = Digest.of(frame(rows.updated(3, (4L, "w4", 4 / 7.0))), "c")
    assert(changed.rows == base.rows && changed != base)
    assert(renamed != base)
  }

  test("the digest runs the final sort and limit, not a pruned plan") {
    val top = frame(rows).orderBy(org.apache.spark.sql.functions.desc("id")).limit(3)
    val want = Digest.of(frame(rows.takeRight(3)), "want")
    assert(Digest.of(top, "top") == want)
  }

  test("a query that throws is recorded and the window goes on") {
    val queries: Map[String, Harness.Query] = Map(
      "ok" -> ((s: SparkSession, _: String) => s.range(10).toDF()),
      "boom" -> ((_: SparkSession, _: String) => sys.error("boom")),
      "late" -> ((s: SparkSession, _: String) =>
        s.range(5).selectExpr("1 / (id - id) AS x").selectExpr("assert_true(x > 0)")))
    val work = Files.createTempDirectory("perfbench-spec").toFile
    val plan = Harness.Plan("unused", trace = false, cores = 2,
      work = work, out = new File(work, "out"), warm = Nil,
      rounds = Seq(Seq("ok", "boom", "late", "ok")))
    val timer = new Harness.TaskTimer
    spark.sparkContext.addSparkListener(timer)
    val records = Vector.newBuilder[Map[String, Any]]
    val rounds = Harness.window(spark, plan, queries, timer, f => records += f.toMap)
    val qs = records.result().filter(_("type") == "query")
    assert(rounds == 1)
    assert(qs.map(_("query")) == Seq("ok", "boom", "late", "ok"))
    assert(qs.map(_("error") != None) == Seq(false, true, true, false))
    assert(qs.last("digest") == qs.head("digest") && qs.head("digest") != None)
  }
}
