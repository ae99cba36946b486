package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, rand}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val root: Path = Files.createTempDirectory("graftbench_spec")
  private var session: SparkSession = _
  private def spark: SparkSession = {
    if (session == null) {
      sys.props("graft.catalog.path") = root.resolve("graft_catalog.json").toString
      session = Main.session(2, root.resolve("warehouse"))
    }
    session
  }
  /** A new SparkContext, so task ids (part of data file names, and so of
    * manifest sizes) restart from zero as they do in a benchmark run. */
  private def freshSpark(): SparkSession = {
    if (session != null) session.stop()
    session = null
    spark
  }
  override def afterAll(): Unit = {
    if (session != null) session.stop()
    val files = Files.walk(root)
    try files.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally files.close()
  }
  private def ctx(tag: String) = {
    val s = freshSpark()
    new Ctx(s, root.resolve(tag), sql => graft.ops.Ddl.execute(s, sql), tag)
  }

  test("checksum ignores row order and partitioning, not values") {
    val s = spark
    import s.implicits._
    val df = (1 to 500).map(i => (i.toLong, s"s$i", i * 0.1, Seq(i.toFloat)))
      .toDF("a", "b", "c", "d")
    val base = Checksum.of(df)
    assert(base.rows == 500)
    assert(Checksum.of(df.orderBy(rand(3))) == base)
    assert(Checksum.of(df.repartition(7)) == base)
    assert(Checksum.of(df.withColumn("c", col("c") + 1)) != base)
    // -0.0 and 0.0 are one value; duplicate output names are fine
    assert(Checksum.of(Seq(-0.0).toDF("x")) == Checksum.of(Seq(0.0).toDF("x")))
    assert(Checksum.of(df.select(col("a"), col("a"))).rows == 500)
  }

  test("sql_analytics: a fixed statement set in a fixed order") {
    sys.props("graftbench.expected") = "expected/sql_analytics.tsv"
    val w = new SqlAnalytics
    val set = w.statements
    val ops = (1 to set.size * 3).map(_ => w.next().label)
    // whole cycles of the same order
    assert(ops.grouped(set.size).forall(_ == set))
    // one per ops module, and a streaming one among them
    assert(set.size == 9 && set.contains(SqlAnalytics.Streaming), set)
    assert(set.forall(w.pool.contains))
  }

  test("kv_scan: same seed gives the same ops and bytes_per_row") {
    def ops(w: KvScan) = (1 to 40).map(_ => w.next()).map(o => (o.kind, o.label))
    def once(tag: String, seed: Long) = {
      val c = ctx(tag)
      val w = new KvScan(seed)
      w.generate(c)
      w.build(c)
      (ops(w), Workloads.bytesUnder(w.storageDirs.head).toDouble / w.liveRows(c))
    }
    val (opsA, bprA) = once("sa", 9L)
    val (opsB, bprB) = once("sb", 9L)
    assert(opsA == opsB)
    assert(bprA == bprB && bprA > 0)
    assert(opsA.map(_._1).toSet == Set("point", "range", "full"))
    // op labels name no table, so another seed's ops need no build
    assert(ops(new KvScan(10L)) != opsA)
  }

  test("kv_write: same seed gives the same ops and bytes_per_row") {
    def once(tag: String, seed: Long) = {
      val c = ctx(tag)
      val w = new KvWrite(seed)
      w.generate(c)
      w.build(c)
      val ops = (1 to 30).map(_ => w.next())
      ops.foreach(o => o.action(o.build()))
      assert(w.finalCheck(c).isEmpty)
      (ops.map(o => (o.kind, o.label.replace(tag, "T"))),
        w.storageDirs.map(Workloads.bytesUnder).sum.toDouble / w.liveRows(c))
    }
    val (opsA, bprA) = once("wa", 4L)
    val (opsB, bprB) = once("wb", 4L)
    assert(opsA == opsB)
    assert(bprA == bprB && bprA > 0)
    assert(opsA.map(_._1).toSet == Set("append", "dml", "readback", "optimize"))
  }
}
