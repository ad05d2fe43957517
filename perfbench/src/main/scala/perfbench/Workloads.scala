package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max, round, sum}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.federation.Federation
import graft.federation.sql.{RemoteTableRef, SqlExecutor}

/** One timed operation of a workload. `key` identifies a distinct
  * operation: two ops with the same key do the same work and are verified
  * once. */
sealed trait Op {
  def template: String
  def key: String
}

/** Federated SQL: the program receives only the generated text. */
final case class SqlOp(template: String, sql: String) extends Op {
  def key: String = sql
}

/** A named `SparkEntry.queries` gate, verified against its DuckDB oracle. */
final case class GateOp(template: String) extends Op {
  def key: String = template
}

/** What a timed write statement did: the rows a DML statement reports
  * (-1 for inserts) and the source frames it built, whose planning the
  * traced run reads even when no Spark job ran them (a pushed CTAS). */
final case class Written(affected: Long, frames: Seq[DataFrame])

/** A remote write. `reset` prepares the target outside the timer, `run`
  * is the timed statement, and after the timer `readBack` must equal the
  * DuckDB `oracleSql` over the source tables. */
final case class WriteOp(template: String, kind: String, literal: Int,
    reset: () => Unit, run: () => Written,
    readBack: () => DataFrame, oracleSql: String)
  extends Op {
  def key: String = s"$template#$literal"
}

/** A template draws its literals from the seeded generator. */
final case class Template(name: String, gen: Random => String)

/** Engines and paths a workload runs against. */
final class Ctx(val spark: SparkSession, val dir: String)

trait Workload {
  def name: String
  /** Template names, in pinned order (a pass runs each once). */
  def templateNames: Seq[String]
  /** Loads the engines and registers the catalog, each phase inside
    * `timed(phase, ...)`. */
  def setup(ctx: Ctx, timed: (String, => Unit) => Unit): Unit
  /** The seeded op stream: a list of passes, each a permutation of the
    * templates with literals from a per-template pool. */
  def stream(ctx: Ctx, seed: Long): Iterator[Seq[Op]]
  /** The untimed first pass of set-up (fixed literals per seed). */
  def firstPass(ctx: Ctx, seed: Long): Seq[Op]
  /** View prefixes naming the source tables in this workload's SQL; the
    * DuckDB oracle reads each `<prefix><table>` from the same parquet. */
  def remotePrefixes: Seq[String] = Nil
  /** The workload's Spark SQL in DuckDB's dialect, for the oracle. */
  def oracleSql(sql: String): String = sql
  /** DuckDB statements that define every table and view the oracle SQL
    * reads (federation off: plain parquet scans). */
  def duckViews(dir: String): Seq[String] =
    for (p <- "" +: remotePrefixes; t <- Workloads.Tables) yield
      s"CREATE VIEW $p$t AS SELECT * FROM read_parquet('$dir/$t.parquet')"
}

object Workloads {

  /** Literal tuples drawn per template; a run reuses them, so about half
    * of a run's operations repeat an earlier fragment exactly. */
  val PoolSize = 2

  val all: Seq[Workload] = Seq(FedInteractive, FedBulk, FedWrite,
    PipelineLocal)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (have: ${all.map(_.name).mkString(", ")})"))

  /** Shared pass generator for template workloads: each pass permutes
    * the templates with the seeded generator; each op picks one of the
    * template's `PoolSize` pre-drawn literal sets. */
  def templateStream(templates: Seq[Template], seed: Long)
      : (Seq[Op], Iterator[Seq[Op]]) = {
    val rng = new Random(seed)
    val pools = templates.map(t =>
      t.name -> Vector.fill(PoolSize)(t.gen(rng))).toMap
    val first = templates.map(t => SqlOp(t.name, pools(t.name).head))
    val passes = Iterator.continually {
      rng.shuffle(templates).map(t =>
        SqlOp(t.name, pools(t.name)(rng.nextInt(PoolSize))): Op)
    }
    (first, passes)
  }

  val Tables: Seq[String] = graft.sources.Tables.all

  /** Registers `<prefix><table>` views over local parquet (tables local
    * to the Spark session, joined with remote ones). */
  def localViews(s: SparkSession, dir: String, prefix: String,
      tables: Seq[String]): Unit =
    tables.foreach(t => s.read.parquet(s"$dir/$t.parquet")
      .createOrReplaceTempView(prefix + t))

  /** Registers `<prefix><table>` views over the mock Spark engine `name`
    * — only the tables a workload queries. */
  def mockViews(s: SparkSession, dir: String, prefix: String, name: String,
      tables: Seq[String]): Unit = {
    val ex = graft.federation.FederationHarness.executor(s, dir, name)
    tables.foreach(t => Federation.registerRemoteTable(s, prefix + t, t, ex))
  }

  def pick[T](r: Random, xs: Seq[T]): T = xs(r.nextInt(xs.size))

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
    "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
    "5-LOW")
}

import Workloads._

/** Short federated queries returning few rows, rotated across the mock
  * Spark engine, DuckDB and Derby. */
object FedInteractive extends Workload {
  val name = "fed_interactive"
  private val remoteTables = Seq("supplier", "nation", "customer", "orders")

  val templates: Seq[Template] = Seq(
    Template("i_filter_mock", r =>
      s"""SELECT o_orderkey, o_orderstatus, o_totalprice FROM fed_orders
         |WHERE o_custkey = ${r.nextInt(1500)} ORDER BY o_orderkey""".stripMargin),
    Template("i_topk_duck", r =>
      s"""SELECT o_orderkey, o_custkey, o_totalprice FROM duck_orders
         |WHERE o_orderpriority = '${pick(r, Priorities)}'
         |  AND o_orderstatus = '${pick(r, Seq("F", "O", "P"))}'
         |ORDER BY o_totalprice DESC, o_orderkey
         |LIMIT ${pick(r, Seq(5, 10, 20))}""".stripMargin),
    Template("i_agg_derby", r =>
      s"""SELECT c_mktsegment, COUNT(*) AS n,
         |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
         |FROM jdbc_customer WHERE c_nationkey = ${r.nextInt(25)}
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    Template("i_join_mock", r =>
      s"""SELECT c_custkey, c_name, COUNT(*) AS n_orders,
         |  MAX(o_totalprice) AS top
         |FROM fed_customer JOIN fed_orders ON c_custkey = o_custkey
         |WHERE c_nationkey = ${r.nextInt(25)}
         |  AND o_orderpriority = '${pick(r, Priorities)}'
         |GROUP BY c_custkey, c_name
         |ORDER BY n_orders DESC, c_custkey LIMIT 10""".stripMargin),
    Template("i_exists_duck", r =>
      s"""SELECT s_suppkey, s_name FROM duck_supplier s
         |WHERE s.s_nationkey < ${5 + r.nextInt(10)} AND EXISTS (
         |  SELECT 1 FROM duck_customer c
         |  WHERE c.c_nationkey = s.s_nationkey
         |    AND c.c_acctbal > ${9900 + r.nextInt(90)})
         |ORDER BY s_suppkey""".stripMargin),
    Template("i_not_in_derby", r =>
      s"""SELECT n_nationkey, n_name FROM jdbc_nation
         |WHERE n_regionkey = ${r.nextInt(5)} AND n_nationkey NOT IN (
         |  SELECT s_nationkey FROM jdbc_supplier
         |  WHERE s_acctbal > ${9000 + r.nextInt(900)})
         |ORDER BY n_nationkey""".stripMargin),
    Template("i_group_topk_duck", r => {
      val lo = r.nextInt(1490)
      s"""SELECT o_custkey, o_orderkey, o_totalprice FROM (
         |  SELECT o_custkey, o_orderkey, o_totalprice,
         |    ROW_NUMBER() OVER (PARTITION BY o_custkey
         |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
         |  FROM duck_orders WHERE o_custkey BETWEEN $lo AND ${lo + 9}) t
         |WHERE rn <= 2 ORDER BY o_custkey, o_orderkey""".stripMargin
    }),
    Template("i_bind_mock_duck", r =>
      s"""SELECT n_name, COUNT(*) AS n_supp, MAX(s_acctbal) AS top
         |FROM duck_supplier JOIN fed_nation ON s_nationkey = n_nationkey
         |WHERE n_regionkey = ${r.nextInt(5)}
         |GROUP BY n_name ORDER BY n_name""".stripMargin),
    Template("i_rf_mock_derby", r =>
      s"""SELECT o_orderpriority, COUNT(*) AS n, MAX(o_totalprice) AS top
         |FROM jdbc_orders JOIN fed_customer ON o_custkey = c_custkey
         |WHERE c_nationkey = ${r.nextInt(25)}
         |  AND c_mktsegment = '${pick(r, Segments)}'
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Template("i_union_agg_duck_derby", r =>
      s"""SELECT o_orderstatus, COUNT(*) AS n, MAX(o_totalprice) AS top
         |FROM (SELECT o_orderstatus, o_totalprice FROM duck_orders
         |      WHERE o_custkey = ${r.nextInt(1500)}
         |      UNION ALL
         |      SELECT o_orderstatus, o_totalprice FROM jdbc_orders
         |      WHERE o_custkey = ${r.nextInt(1500)}) u
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    Template("i_lookup_mock", r =>
      s"""SELECT l_linenumber, l_partkey, l_quantity, l_extendedprice
         |FROM fed_lineitem WHERE l_orderkey = ${r.nextInt(15000)}
         |ORDER BY l_linenumber""".stripMargin))

  def templateNames: Seq[String] = templates.map(_.name)

  def setup(ctx: Ctx, timed: (String, => Unit) => Unit): Unit = {
    val (s, d) = (ctx.spark, ctx.dir)
    timed("derby_load", graft.federation.jdbc.JdbcHarness.executor(s, d,
      remoteTables))
    timed("duckdb_load", graft.federation.duckdb.DuckDbHarness.executor(s,
      d, remoteTables))
    timed("catalog", {
      Federation.install(s)
      mockViews(s, d, "fed_", "alpha",
        Seq("orders", "customer", "nation", "lineitem"))
      graft.federation.jdbc.JdbcHarness.registerViews(s, d)
      graft.federation.duckdb.DuckDbHarness.registerViews(s, d)
    })
  }

  def stream(ctx: Ctx, seed: Long): Iterator[Seq[Op]] =
    templateStream(templates, seed)._2
  def firstPass(ctx: Ctx, seed: Long): Seq[Op] =
    templateStream(templates, seed)._1

  override def remotePrefixes: Seq[String] = Seq("fed_", "duck_", "jdbc_")
}

/** Federated queries that each ship many remote rows. */
object FedBulk extends Workload {
  val name = "fed_bulk"
  private val derbyTables = Seq("customer", "orders", "lineitem")
  private val duckTables = Seq("customer", "orders", "lineitem")

  /** DuckDB table of order payloads encoded as JSON text, declared to
    * Spark as a struct with a nested array: every shipped value is
    * decoded by the schema coercion at the boundary. */
  val PayloadSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("payload", StructType(Seq(
      StructField("st", org.apache.spark.sql.types.StringType),
      StructField("price", org.apache.spark.sql.types.DoubleType),
      StructField("keys", org.apache.spark.sql.types.ArrayType(LongType)))))))

  val templates: Seq[Template] = Seq(
    Template("b_split_derby", r =>
      s"""SELECT l_returnflag,
         |  COUNT(*) FILTER (WHERE l_quantity > ${20 + r.nextInt(10)}.0) AS big_qty,
         |  COUNT(DISTINCT l_orderkey) AS n_orders, COUNT(*) AS n
         |FROM jdbc_lineitem
         |WHERE l_shipdate >= TIMESTAMP_NTZ '1995-0${1 + r.nextInt(6)}-01 00:00:00'
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Template("b_split_duck_join", r =>
      s"""SELECT c_mktsegment, COUNT(*) AS n, MAX(o_totalprice) AS top
         |FROM duck_orders JOIN bench_customer ON o_custkey = c_custkey
         |WHERE o_totalprice > ${1000 + r.nextInt(20000)}
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    Template("b_window_duck", r =>
      s"""SELECT st, k, price,
         |  CAST(SUM(CAST(price AS DECIMAL(18,2)))
         |    OVER (PARTITION BY st ORDER BY k) AS DOUBLE) AS run,
         |  LAG(k) OVER (PARTITION BY st ORDER BY k) AS prev_k
         |FROM (SELECT o_orderstatus AS st, o_orderkey AS k,
         |        CAST(o_totalprice AS DOUBLE) AS price
         |      FROM duck_orders
         |      WHERE o_totalprice > ${50000 + r.nextInt(50000)}) t
         |ORDER BY st, k""".stripMargin),
    Template("b_xengine_partial_agg", r => {
      val cut = s"0.0${3 + r.nextInt(5)}"
      s"""SELECT l_returnflag,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         |  COUNT(*) AS n_rows, MAX(l_extendedprice) AS max_price
         |FROM (SELECT l_returnflag, l_quantity, l_extendedprice
         |      FROM duck_lineitem WHERE l_discount > $cut
         |      UNION ALL
         |      SELECT l_returnflag, l_quantity, l_extendedprice
         |      FROM jdbc_lineitem WHERE l_discount <= $cut) t
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    }),
    Template("b_runtime_filter_derby", r =>
      s"""SELECT c_mktsegment, COUNT(*) AS n,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM jdbc_orders JOIN fed_customer ON o_custkey = c_custkey
         |WHERE c_acctbal > ${-500 + r.nextInt(2000)}
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    Template("b_struct_duck", r =>
      s"""SELECT o_orderkey, payload.st AS st, payload.price AS price,
         |  payload.keys[0] AS custkey
         |FROM duck_order_payload WHERE o_orderkey >= ${r.nextInt(3000)}
         |ORDER BY o_orderkey""".stripMargin),
    Template("b_split_mock_join", r =>
      s"""SELECT p_type, COUNT(*) AS n,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
         |FROM fedsplit_lineitem JOIN bench_part ON l_partkey = p_partkey
         |WHERE l_discount >= 0.0${r.nextInt(3)}
         |GROUP BY p_type ORDER BY p_type""".stripMargin))

  def templateNames: Seq[String] = templates.map(_.name)

  def setup(ctx: Ctx, timed: (String, => Unit) => Unit): Unit = {
    val (s, d) = (ctx.spark, ctx.dir)
    timed("derby_load", graft.federation.jdbc.JdbcHarness.executor(s, d,
      derbyTables))
    timed("duckdb_load", {
      val duck = graft.federation.duckdb.DuckDbHarness.executor(s, d,
        duckTables)
      duck.runDdl(RemoteTableRef.parse("order_payload"), Seq(
        "DROP TABLE IF EXISTS order_payload",
        """CREATE TABLE order_payload AS
          |SELECT o_orderkey, to_json({'st': o_orderstatus,
          |  'price': o_totalprice, 'keys': [o_custkey, o_orderkey]}) AS payload
          |FROM orders""".stripMargin))
    })
    timed("catalog", {
      Federation.install(s)
      mockViews(s, d, "fed_", "alpha", Seq("customer"))
      graft.federation.jdbc.JdbcHarness.registerViews(s, d)
      graft.federation.duckdb.DuckDbHarness.registerViews(s, d)
      val duck = graft.federation.duckdb.DuckDbHarness.executor(s, d)
      Federation.remoteDataFrameAs(s, "order_payload", duck, PayloadSchema)
        .createOrReplaceTempView("duck_order_payload")
      Federation.registerRemoteTable(s, "fedsplit_lineitem", "lineitem",
        graft.federation.FederationHarness.splitExecutor(s, d, "gamma", 4))
      localViews(s, d, "bench_", Seq("customer", "part"))
    })
  }

  def stream(ctx: Ctx, seed: Long): Iterator[Seq[Op]] =
    templateStream(templates, seed)._2
  def firstPass(ctx: Ctx, seed: Long): Seq[Op] =
    templateStream(templates, seed)._1

  override def remotePrefixes: Seq[String] =
    Seq("fed_", "fedsplit_", "duck_", "jdbc_", "bench_")

  /** Spark's NTZ literal and 0-based array index in DuckDB terms. */
  override def oracleSql(sql: String): String =
    sql.replace("TIMESTAMP_NTZ '", "TIMESTAMP '")
      .replace("payload.keys[0]", "payload.keys[1]")

  override def duckViews(dir: String): Seq[String] = super.duckViews(dir) :+
    s"""CREATE VIEW duck_order_payload AS SELECT o_orderkey,
       |  {'st': o_orderstatus, 'price': o_totalprice,
       |   'keys': [o_custkey, o_orderkey]} AS payload
       |FROM read_parquet('$dir/orders.parquet')""".stripMargin
}

/** Remote DML and ingest on Derby and DuckDB, plus the two epoch-fenced
  * streaming sinks. */
object FedWrite extends Workload {
  val name = "fed_write"
  private val remoteTables = Seq("nation", "customer", "orders")

  /** Gates run as-is; verified against their DuckDB oracle. */
  val SinkGates: Seq[String] = Seq("stream_jdbc_sink", "stream_duckdb_sink")

  private val writeTemplates: Seq[String] = Seq(
    "w_insert_derby", "w_insert_duck", "w_ctas_derby", "w_ctas_duck",
    "w_delete_derby", "w_delete_duck", "w_update_derby", "w_update_duck",
    "w_etl_duck_to_derby")

  def templateNames: Seq[String] = writeTemplates ++ SinkGates

  private def derby(c: Ctx): SqlExecutor =
    graft.federation.jdbc.JdbcHarness.executor(c.spark, c.dir)
  private def duck(c: Ctx): SqlExecutor =
    graft.federation.duckdb.DuckDbHarness.executor(c.spark, c.dir)

  def setup(ctx: Ctx, timed: (String, => Unit) => Unit): Unit = {
    val (s, d) = (ctx.spark, ctx.dir)
    timed("derby_load", graft.federation.jdbc.JdbcHarness.executor(s, d,
      remoteTables))
    timed("duckdb_load", graft.federation.duckdb.DuckDbHarness.executor(s,
      d, remoteTables))
    timed("catalog", Federation.install(s))
  }

  private val rowsSchema = Seq("o_orderkey", "o_custkey", "o_totalprice")

  /** Target table of the DELETE / UPDATE ops, refilled outside the timer
    * inside the engine itself (`INSERT INTO … SELECT` over its own
    * `orders`). */
  private def refill(c: Ctx, ex: SqlExecutor, table: String): Unit = {
    val src = Federation.remoteDataFrame(c.spark, "orders", ex)
      .where(col("o_orderkey") % 4 === 0)
      .select(rowsSchema.map(col): _*)
    val ref = RemoteTableRef.parse(table)
    ex.createTable(ref, src.schema)
    Federation.insertIntoRemote(src, ref, ex)
  }

  private def op(c: Ctx, template: String, k: Int): Op = {
    val s = c.spark
    def ex = if (template.endsWith("derby")) derby(c) else duck(c)
    def ref(t: String) = RemoteTableRef.parse(t)
    val prio = Priorities(k % Priorities.size)
    val cut = 100000.0 + 50000.0 * k
    template match {
      case "w_insert_derby" | "w_insert_duck" =>
        val cols = "l_orderkey, l_linenumber, l_quantity, l_extendedprice, " +
          "l_returnflag"
        def src = s.read.parquet(s"${c.dir}/lineitem.parquet")
          .where(s"l_orderkey % 8 = $k").selectExpr(cols.split(", "): _*)
        WriteOp(template, "insert", k,
          reset = () => ex.createTable(ref("bench_ins"), src.schema),
          run = () => {
            val df = src
            Federation.insertIntoRemote(df, ref("bench_ins"), ex)
            Written(-1L, Seq(df))
          },
          readBack = () => Federation.remoteDataFrame(s, "bench_ins", ex),
          oracleSql = s"SELECT $cols FROM lineitem WHERE l_orderkey % 8 = $k")
      case "w_ctas_derby" | "w_ctas_duck" =>
        WriteOp(template, "ctas", k,
          reset = () => ex.dropTable(ref("bench_ctas")),
          run = () => {
            val df = Federation.remoteDataFrame(s, "orders", ex)
              .where(col("o_orderpriority") === prio)
              .groupBy(col("o_custkey").as("custkey"))
              .agg(count(lit(1)).as("n"), max(col("o_totalprice")).as("top"))
            Federation.createRemoteTableAs(df, "bench_ctas", ex)
            Written(-1L, Seq(df))
          },
          readBack = () => Federation.remoteDataFrame(s, "bench_ctas", ex),
          oracleSql = s"""SELECT o_custkey, COUNT(*), MAX(o_totalprice)
            |FROM orders WHERE o_orderpriority = '$prio'
            |GROUP BY o_custkey""".stripMargin)
      case "w_delete_derby" | "w_delete_duck" =>
        WriteOp(template, "delete", k,
          reset = () => refill(c, ex, "bench_del"),
          run = () => Written(Federation.deleteFromRemote(s, "bench_del", ex,
            col("o_totalprice") > lit(cut)), Nil),
          readBack = () => Federation.remoteDataFrame(s, "bench_del", ex),
          oracleSql = s"""SELECT o_orderkey, o_custkey, o_totalprice
            |FROM orders WHERE o_orderkey % 4 = 0 AND NOT o_totalprice > $cut
            |""".stripMargin)
      case "w_update_derby" | "w_update_duck" =>
        WriteOp(template, "update", k,
          reset = () => refill(c, ex, "bench_upd"),
          run = () => Written(Federation.updateRemote(s, "bench_upd", ex,
            Seq("o_custkey" -> (col("o_custkey") + lit(100000L))),
            col("o_totalprice") < lit(cut)), Nil),
          readBack = () => Federation.remoteDataFrame(s, "bench_upd", ex),
          oracleSql = s"""SELECT o_orderkey,
            |  CASE WHEN o_totalprice < $cut THEN o_custkey + 100000
            |    ELSE o_custkey END, o_totalprice
            |FROM orders WHERE o_orderkey % 4 = 0""".stripMargin)
      case "w_etl_duck_to_derby" =>
        // extract + transform federate into DuckDB as one fragment; the
        // load streams the per-customer rows into Derby
        def derived(df: DataFrame) = df.where(col("o_orderpriority") === prio)
          .groupBy(col("o_custkey").cast("long").as("custkey"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
        WriteOp(template, "insert", k,
          reset = () => derby(c).createTable(ref("bench_etl"),
            derived(s.read.parquet(s"${c.dir}/orders.parquet")).schema),
          run = () => {
            val df = derived(Federation.remoteDataFrame(s, "orders", duck(c)))
            Federation.insertIntoRemote(df, ref("bench_etl"), derby(c))
            Written(-1L, Seq(df))
          },
          readBack = () => Federation.remoteDataFrame(s, "bench_etl", derby(c)),
          oracleSql = s"""SELECT o_custkey, COUNT(*),
            |  CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
            |FROM orders WHERE o_orderpriority = '$prio'
            |GROUP BY o_custkey""".stripMargin)
    }
  }

  def stream(ctx: Ctx, seed: Long): Iterator[Seq[Op]] = {
    val rng = new Random(seed)
    val pools = writeTemplates.map(t =>
      t -> Vector.fill(PoolSize)(rng.nextInt(4))).toMap
    Iterator.continually {
      rng.shuffle(templateNames).map { t =>
        if (SinkGates.contains(t)) GateOp(t)
        else op(ctx, t, pools(t)(rng.nextInt(PoolSize)))
      }
    }
  }

  def firstPass(ctx: Ctx, seed: Long): Seq[Op] = {
    val rng = new Random(seed)
    val pools = writeTemplates.map(t =>
      t -> Vector.fill(PoolSize)(rng.nextInt(4))).toMap
    templateNames.map { t =>
      if (SinkGates.contains(t)) GateOp(t) else op(ctx, t, pools(t).head)
    }
  }
}

/** Non-federated pipeline gates over local parquet: the bypass workload
  * for every federation change. */
object PipelineLocal extends Workload {
  val name = "pipeline_local"

  val gates: Seq[String] = Seq("dedup_minhash", "text_c4_filters",
    "text_gopher_rules", "pipe_curated_corpus", "sim_ivf_topk",
    "ev_sessionize", "q3_shipping_priority", "dedup_exact",
    "stream_c4_filter", "stream_interval_join")

  def templateNames: Seq[String] = gates

  def setup(ctx: Ctx, timed: (String, => Unit) => Unit): Unit =
    timed("catalog", Federation.install(ctx.spark))

  def stream(ctx: Ctx, seed: Long): Iterator[Seq[Op]] = {
    val rng = new Random(seed)
    Iterator.continually(rng.shuffle(gates).map(g => GateOp(g): Op))
  }

  def firstPass(ctx: Ctx, seed: Long): Seq[Op] = gates.map(GateOp(_))
}
