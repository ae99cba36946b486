package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One user statement. Its timer covers `build` (graft's builders may run
  * eager jobs while building) and `action`, which consumes every output
  * column. `check` runs untimed on the action's output and returns an error
  * for a wrong result. */
final case class Op(kind: String, label: String,
    build: () => DataFrame,
    action: DataFrame => Any = (df: DataFrame) => Checksum.of(df),
    check: Any => Option[String] = (_: Any) => None,
    /** Table the op writes, if any, and the user rows and bytes written. */
    writes: Option[String] = None, rowsWritten: Long = 0, bytesWritten: Long = 0)

/** What a workload needs from the runner. `ddl` calls graft's `Ddl.execute`
  * and is traced as the `ddl` layer. */
final class Ctx(val spark: SparkSession, val root: Path,
    val ddl: String => DataFrame, val tag: String = "") {
  def dir(name: String): Path = Files.createDirectories(root.resolve(name))
}

trait Workload {
  /** Writes the inputs the workload reads; part of setup_s. */
  def generate(ctx: Ctx): Unit
  /** Builds the workload's tables; part of setup_s. */
  def build(ctx: Ctx): Unit
  /** The seeded op stream. */
  def next(): Op
  /** Untimed ops that warm the session before the loop, each made just
    * before it runs (making an op updates the workload's model). */
  def warmup(): Iterator[Op]
  /** Whether the loop may stop after the last op; a workload that cycles
    * a fixed set stops only between cycles, so every run has the same mix. */
  def atBoundary: Boolean = true
  /** End-of-run checks against the generator's model. */
  def finalCheck(ctx: Ctx): Seq[String] = Nil
  /** The workload's table directories and live rows, for bytes_per_row. */
  def storageDirs: Seq[Path] = Nil
  def liveRows(ctx: Ctx): Long = 0L
}

object Workloads {
  def apply(name: String, seed: Long): Workload = name match {
    case "sql_analytics" => new SqlAnalytics
    case "kv_scan"       => new KvScan(seed)
    case "kv_write"      => new KvWrite(seed)
    case other           => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}

/** Expected checksums and costs of the read-only analytic statements:
  * `name <TAB> cost_ms <TAB> checksum`, one line each. */
object Expected {
  def read(p: Path): Seq[(String, Double, String)] =
    Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty).map { l =>
      val Array(n, c, x) = l.split("\t")
      (n, c.toDouble, x)
    }
}

/** sql_analytics: read-only SparkEntry statements (every family but KeyRange
  * and Ddl) over a small generated star schema. A run is far shorter than
  * one pass over all of them, and a seed-drawn subset would change the cost
  * mix from seed to seed, so each run cycles a fixed representative set:
  * the lower-quartile-cost statement of each ops module, which keeps a
  * cycle short, and one streaming statement. The first cycle runs each
  * statement for the first time in the session, so it measures what a new
  * statement costs: planning, code generation and the jobs. A run measures
  * whole cycles. The seed changes nothing here: the data is pinned by the
  * expected checksums, and a seeded order moved each statement's
  * first-run latency by up to 30 %, since statements share generated code
  * and JIT state with the ones before them. */
final class SqlAnalytics extends Workload {
  val Scale = 0.01
  val DataSeed = 42L
  private var spark: SparkSession = _
  private var data: String = _
  private lazy val expected: Seq[(String, Double, String)] =
    Expected.read(Paths.get(sys.props("graftbench.expected")))
  private lazy val byName = expected.map(e => e._1 -> e._3).toMap

  /** The statements this workload draws from. */
  def pool: Seq[String] =
    (graft.SparkEntry.queries.keySet -- graft.ops.KeyRange.queries.keySet --
      graft.ops.Ddl.queries.keySet).toSeq.sorted

  lazy val statements: Seq[String] =
    SqlAnalytics.representatives(expected.map(e => e._1 -> e._2).toMap)

  def generate(ctx: Ctx): Unit = ()
  def build(ctx: Ctx): Unit = {
    spark = ctx.spark
    val d = ctx.dir("star").toString
    DataGen.write(ctx.spark, DataSeed, Scale, d)
    data = d
  }

  private var cycle: Iterator[String] = Iterator.empty
  def next(): Op = {
    if (!cycle.hasNext) cycle = statements.iterator
    op(cycle.next())
  }
  /** Scan and aggregate machinery, as graft's Bench warms it; the set's
    * own statements first run in the loop. */
  override def warmup(): Iterator[Op] = Iterator("filter_pred", "agg_groupby").map(op)
  override def atBoundary: Boolean = !cycle.hasNext

  private def op(name: String): Op = {
    val fn = graft.SparkEntry.queries(name)
    Op("query", name, () => fn(spark, data), check = out => {
      val got = out.asInstanceOf[Checksum].hex
      val want = byName(name)
      if (got == want) None else Some(s"$name checksum $got, expected $want")
    })
  }
}

object SqlAnalytics {
  private def modules: Seq[(String, Set[String])] = {
    import graft.ops._
    Seq("Relational" -> Relational.queries.keySet, "Windows" -> Windows.queries.keySet,
      "Scalars" -> Scalars.queries.keySet, "Events" -> Events.queries.keySet,
      "Text" -> Text.queries.keySet, "Dedup" -> Dedup.queries.keySet,
      "Similarity" -> Similarity.queries.keySet, "Pipeline" -> Pipeline.queries.keySet)
  }

  /** The cheapest statement that runs a stateful Structured Streaming
    * query; most `stream_*` statements are batch queries over the events
    * table. Like every streaming statement, it stages its feed in a
    * graft_kv table of its own scratch dir. */
  val Streaming = "stream_state_counts"

  /** The fixed statement set, from each statement's measured cost. */
  def representatives(cost: Map[String, Double]): Seq[String] = {
    def ranked(names: Iterable[String]): IndexedSeq[String] =
      names.filter(cost.contains).toIndexedSeq.sortBy(n => (cost(n), n))
    def at(xs: IndexedSeq[String], q: Double): String = xs(((xs.size - 1) * q).round.toInt)
    (modules.map { case (_, names) => at(ranked(names), 0.25) } :+ Streaming).distinct
  }
}

/** kv_scan: one graft_kv table bulk-loaded sorted on its key from generated
  * lineitem rows; seeded point, range and full-aggregate SQL. Each op's
  * checksum is compared with the same SQL over the source parquet. */
final class KvScan(seed: Long) extends Workload {
  /** lineitem at sf 0.2: about 1.2 M rows. */
  val Scale = 0.2
  val DataSeed = 7L
  private val rnd = new scala.util.Random(seed)
  private val sz = DataGen.sizes(Scale)
  private val maxOrder = sz.orders
  private var src: String = _
  private var tableDir: String = _
  private var table: String = _
  private val refCache = mutable.HashMap[String, String]()
  private var spark: SparkSession = _

  val Columns = "k BIGINT, l_orderkey BIGINT, l_partkey BIGINT, " +
    "l_suppkey BIGINT, l_linenumber INT, l_quantity DOUBLE, " +
    "l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
    "l_returnflag STRING, l_linestatus STRING, l_shipdate DATE"

  def generate(ctx: Ctx): Unit = {
    spark = ctx.spark
    src = ctx.dir("scan_src").resolve("lineitem_k.parquet").toString
    // rows come out in key order: range partitions are ordered and explode
    // keeps each order's lines together
    DataGen.lineitem(ctx.spark, DataSeed, sz)
      .selectExpr("l_orderkey * 8 + l_linenumber AS k", "*")
      .withColumn("l_shipdate", org.apache.spark.sql.functions.col("l_shipdate").cast("date"))
      .write.mode("overwrite").parquet(src)
    ctx.spark.read.parquet(src).createOrReplaceTempView("kv_scan_ref")
  }

  def build(ctx: Ctx): Unit = {
    table = s"graft.bench${ctx.tag}.scan"
    tableDir = ctx.dir("scan_kv").toString
    ctx.spark.sql(s"CREATE TABLE $table ($Columns) USING graft_kv " +
      s"OPTIONS (path '$tableDir', sortBy 'k', sortBuckets '16')")
    ctx.spark.sql(s"INSERT INTO $table SELECT * FROM parquet.`$src`")
  }

  override def storageDirs: Seq[Path] = Seq(Paths.get(tableDir))
  override def liveRows(ctx: Ctx): Long =
    ctx.spark.sql(s"SELECT count(*) FROM $table").head().getLong(0)

  /** A key of a line 1 or 2, which every order has or most orders have. */
  private def key(): Long = rnd.nextLong(maxOrder) * 8 + 1 + rnd.nextInt(2)

  private val fulls = Seq(
    "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q, " +
      "sum(l_extendedprice * (1 - l_discount)) AS rev FROM {t} GROUP BY 1, 2",
    "SELECT count(*) AS n, sum(l_extendedprice) AS p, max(l_tax) AS t FROM {t}",
    "SELECT l_shipdate >= DATE'1998-06-01' AS late, count(*) AS n, " +
      "avg(l_discount) AS d FROM {t} GROUP BY 1")

  /** One round: 7 point, 8 range and 5 full ops (each full variant once,
    * the first two twice), in a seeded order. A run measures whole rounds.
    * Ranges are the middle op type by latency, so the round's median falls
    * inside their cluster rather than on the edge between two types. */
  private val Round: Seq[Int] = Seq.fill(7)(-2) ++ Seq.fill(8)(-1) ++ Seq(0, 1, 2, 0, 1)
  private var pending: List[Int] = Nil
  override def atBoundary: Boolean = pending.isEmpty
  def next(): Op = {
    if (pending.isEmpty) pending = rnd.shuffle(Round).toList
    val op = make(pending.head)
    pending = pending.tail
    op
  }
  override def warmup(): Iterator[Op] = Iterator(-2, -1, 0, -2, -1).map(make)

  /** -2 point, -1 range, n >= 0 the n-th full aggregate. */
  private def make(what: Int): Op = {
    val (kind, sql) = what match {
      case -2 => ("point", s"SELECT * FROM {t} WHERE k = ${key()}")
      case -1 =>
        val lo = key()
        val span = maxOrder * 8 / 100
        ("range", s"SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q, " +
          s"sum(l_extendedprice) AS p FROM {t} WHERE k BETWEEN $lo AND ${lo + span} " +
          "GROUP BY l_returnflag")
      case n => ("full", fulls(n))
    }
    Op(kind, sql, () => spark.sql(sql.replace("{t}", table)), check = out => {
      val want = refCache.getOrElseUpdate(sql,
        Checksum.of(spark.sql(sql.replace("{t}", "kv_scan_ref"))).hex)
      if (kind != "full") refCache.remove(sql)
      val got = out.asInstanceOf[Checksum].hex
      if (got == want) None else Some(s"$kind: $got, expected $want ($sql)")
    })
  }
}

/** kv_write: a copy-on-write graft_kv table, a merge-on-read (`mor`) one and
  * a keyed MAPPED BY table, all loaded from generated orders; rounds of
  * appends, DELETE/UPDATE/MERGE on seeded keys, OPTIMIZE and read-backs. A
  * model of each table's live keys and their prices checks every read-back
  * and the final state. */
final class KvWrite(seed: Long) extends Workload {
  /** orders at sf 0.01: 15 k rows. */
  val Scale = 0.01
  val DataSeed = 11L
  private val rnd = new scala.util.Random(seed)
  private var spark: SparkSession = _
  private var ctx: Ctx = _
  private var src: String = _
  private var dirs: Seq[String] = Nil
  /** table -> live key -> o_totalprice in cents */
  private val live = mutable.LinkedHashMap[String, mutable.TreeMap[Long, Long]]()
  private var nextKey = 0L

  val Select = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
    "CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority"
  val Columns = "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
    "o_totalprice DOUBLE, o_orderdate DATE, o_orderpriority STRING"
  /** Generated rows for keys [lo, hi), the shape of the loaded orders; a
    * row's price in cents is its key mod 100000, as in a MERGE's rows. */
  private def rowsSql(lo: Long, hi: Long): String =
    s"SELECT id AS o_orderkey, id % 997 + 1 AS o_custkey, 'O' AS o_orderstatus, " +
      s"CAST(id % 100000 AS DOUBLE) / 100 AS o_totalprice, " +
      s"DATE'1998-01-01' AS o_orderdate, '3-MEDIUM' AS o_orderpriority " +
      s"FROM range($lo, $hi)"
  private def cents(k: Long): Long = k % 100000
  /** Approximate user bytes of one generated row (its text form). */
  private val RowBytes = 48L

  private def cow = s"graft.bench${ctx.tag}.w_cow"
  private def mor = s"graft.bench${ctx.tag}.w_mor"
  private def keyed = s"bench${ctx.tag}_keyed"
  def tables: Seq[String] = Seq(cow, mor, keyed)

  def generate(c: Ctx): Unit = {
    ctx = c
    spark = c.spark
    src = c.dir("write_src").resolve("orders.parquet").toString
    DataGen.orders(c.spark, DataSeed, DataGen.sizes(Scale)).coalesce(1)
      .write.mode("overwrite").parquet(src)
  }

  def build(c: Ctx): Unit = {
    val cowDir = c.dir("w_cow").toString
    val morDir = c.dir("w_mor").toString
    c.spark.sql(s"CREATE TABLE $cow ($Columns) USING graft_kv " +
      s"OPTIONS (path '$cowDir', sortBy 'o_orderkey', sortBuckets '4')")
    c.spark.sql(s"CREATE TABLE $mor ($Columns) USING graft_kv " +
      s"OPTIONS (path '$morDir', mor 'true', sortBy 'o_orderkey', sortBuckets '4')")
    c.spark.sql(s"INSERT INTO $cow SELECT $Select FROM parquet.`$src`")
    c.spark.sql(s"INSERT INTO $mor SELECT $Select FROM parquet.`$src`")
    c.ddl(s"CREATE TABLE $keyed MAPPED BY '$src' KEYS (o_orderkey)").collect()
    dirs = Seq(cowDir, morDir)
    val rows = c.spark.read.parquet(src)
      .selectExpr("o_orderkey", "CAST(round(o_totalprice * 100) AS BIGINT)")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    tables.foreach(t => live(t) = mutable.TreeMap(rows.toIndexedSeq: _*))
    nextKey = rows.map(_._1).max + 1
  }

  override def storageDirs: Seq[Path] = dirs.map(Paths.get(_)) :+ Paths.get(src)
  override def liveRows(c: Ctx): Long = live.values.map(_.size.toLong).sum

  private def isKeyed(t: String) = t == keyed
  private def exec(t: String, sql: String): DataFrame =
    if (isKeyed(t)) ctx.ddl(sql) else spark.sql(sql)
  private val collectAll: DataFrame => Any = df => df.collect().length

  /** `n` distinct live keys of table `t`, seeded. */
  private def someKeys(t: String, n: Int): Seq[Long] = {
    val ks = live(t)
    val lo = ks.firstKey
    val hi = ks.lastKey
    Iterator.continually(lo + rnd.nextLong(hi - lo + 1))
      .map(k => ks.minAfter(k).fold(lo)(_._1)).take(n * 4).distinct.take(n).toSeq
  }

  /** One pass, per table: an append, a DELETE, an UPDATE, a MERGE, an
    * OPTIMIZE (kv tables) and a read-back; 17 ops. The order is fixed, since
    * where an OPTIMIZE falls changes the files and deltas every later op
    * sees; the seed sets the keys that DELETE, UPDATE and MERGE touch. */
  private val Pass: List[(String, Int)] =
    (for (t <- 0 to 2; k <- Seq("append", "delete", "update", "merge", "optimize", "readback")
          if !(k == "optimize" && t == 2)) yield (k, t)).toList
  /** A round is two passes: single writes vary more than reads, and one
    * pass of 17 ops left a run's median moving by 17 % between seeds. A run
    * measures whole rounds. */
  private val Round = Pass ++ Pass
  private var pending: List[(String, Int)] = Nil
  override def atBoundary: Boolean = pending.isEmpty
  def next(): Op = {
    if (pending.isEmpty) pending = Round
    val (kind, i) = pending.head
    pending = pending.tail
    make(kind, tables(i))
  }
  /** One pass, so every statement shape has run once. */
  override def warmup(): Iterator[Op] = Pass.iterator.map { case (k, i) => make(k, tables(i)) }

  private def make(kind: String, t: String): Op = kind match {
    case "append"   => append(t)
    case "readback" => readback(t)
    case "optimize" => optimize(t)
    case dmlKind    => dml(t, dmlKind)
  }

  /** (live rows, key sum, price sum in cents) of table `t`. */
  private def stateSql(t: String): String =
    "SELECT count(*), coalesce(sum(o_orderkey), 0), " +
      s"coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT)), 0) FROM $t"
  private def state(df: DataFrame): (Long, Long, Long) = {
    val r = df.head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }
  private def model(t: String): (Long, Long, Long) =
    (live(t).size.toLong, live(t).keysIterator.sum, live(t).valuesIterator.sum)

  private def readback(t: String): Op = {
    val sql = stateSql(t)
    Op("readback", sql, () => spark.sql(sql), action = state, check = out => {
      val want = model(t)
      if (out == want) None else Some(s"readback $t: (rows, keys, cents) $out, model $want")
    })
  }

  private def append(t: String): Op = {
    val n = 1000
    val lo = nextKey
    nextKey += n
    live(t) ++= (lo until lo + n).map(k => k -> cents(k))
    val sql = s"INSERT INTO $t ${rowsSql(lo, lo + n)}"
    Op("append", sql, () => exec(t, sql),
      action = collectAll, writes = Some(t), rowsWritten = n, bytesWritten = n * RowBytes)
  }

  private def dml(t: String, kind: String): Op = {
    val keys = someKeys(t, 40)
    val in = keys.mkString(", ")
    kind match {
      case "delete" =>
        live(t) --= keys
        val sql = s"DELETE FROM $t WHERE o_orderkey IN ($in)"
        Op("dml", sql, () => exec(t, sql),
          action = collectAll, writes = Some(t), rowsWritten = keys.size)
      case "update" =>
        keys.foreach(k => live(t)(k) += 100)
        val sql = s"UPDATE $t SET o_totalprice = o_totalprice + 1 WHERE o_orderkey IN ($in)"
        Op("dml", sql, () => exec(t, sql),
          action = collectAll, writes = Some(t), rowsWritten = keys.size,
          bytesWritten = keys.size * RowBytes)
      case _ =>
        // half the source rows match live keys, half are new
        val fresh = nextKey until nextKey + keys.size
        nextKey += keys.size
        val merged = keys ++ fresh
        live(t) ++= merged.map(k => k -> cents(k))
        val srcRows = merged.map(k =>
          s"($k, ${k % 997 + 1}, 'F', ${cents(k) / 100.0}, DATE'1998-02-01', '2-HIGH')")
          .mkString(", ")
        val sql = s"MERGE INTO $t AS tg USING (SELECT * FROM VALUES $srcRows AS " +
          "v(o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, " +
          "o_orderpriority)) s ON tg.o_orderkey = s.o_orderkey " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        Op("dml", sql, () => exec(t, sql), action = collectAll,
          writes = Some(t), rowsWritten = merged.size,
          bytesWritten = merged.size * RowBytes)
    }
  }

  private def optimize(t: String): Op =
    Op("optimize", s"OPTIMIZE $t", () => spark.sql(s"OPTIMIZE $t"), action = collectAll,
      writes = Some(t))

  override def finalCheck(c: Ctx): Seq[String] = tables.flatMap { t =>
    val got = state(c.spark.sql(stateSql(t)))
    val want = model(t)
    if (got == want) None else Some(s"final $t: (rows, keys, cents) $got, model $want")
  }
}
