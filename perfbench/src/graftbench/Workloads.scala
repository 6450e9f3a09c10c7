package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, VxFrame}

/** What a request hands back. A `Frame` is drained by the runner inside
  * an `action` span: to the noop sink when timed, to parquet in the check
  * pass. `Values` were already computed on the driver. */
sealed trait Answer
final case class Frame(df: DataFrame) extends Answer
final case class Values(rows: Seq[Seq[Any]]) extends Answer

/** One request of a workload's set. Its answer must equal what `sql`
  * returns in DuckDB over the parquet tables in `data`: exactly when
  * `tol` is 0 (the oracle gate's comparison), else numbers within `tol`
  * relative. `twin`, for a dense-kernel action, computes the same answer
  * with builtin Spark operators, and `kernel` is text that must appear in
  * the call sites or physical plans of what the check pass ran: the dense
  * paths fall back to builtin operators with the same answer, so only
  * this shows which path served the request. */
final case class Request(name: String, data: String, sql: String, tol: Double,
                         run: Ctx => Answer, twin: Option[() => Values] = None,
                         kernel: Option[String] = None)

object Workloads {
  val names = Seq("explore", "star")

  /** Star lanes: aggregation, join, topk and the rolling family at the
    * base scale, and the aggregation lane again on the 10x key-shifted
    * replica. */
  val starLanes = Seq("q1_agg", "q_join_multi", "q_topk", "q_rolling_median")
  val starLanes10x = Seq("q1_agg")

  private def lane(spark: SparkSession, name: String, dir: String, tag: String): Request = {
    val build = SparkEntry.queries(name)
    Request(name + tag, dir, SparkEntry.oracleSql(name), 0.0,
      c => Frame(c.span("build")(build(spark, dir))))
  }

  def star(spark: SparkSession, data: String): Seq[Request] =
    starLanes.map(lane(spark, _, s"$data/sf", "")) ++
      starLanes10x.map(lane(spark, _, s"$data/x10", "@x10"))

  // ------------------------------------------------------------ explore

  private def collectRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** One analyst's session through the facade over the generated fact
    * table. Build spans hold the frame-state edits (virtual columns,
    * filters, selections, categorize); action spans hold the calls that
    * run Spark jobs. */
  def explore(spark: SparkSession, data: String): Seq[Request] = {
    val dir = s"$data/explore"
    val fact = spark.read.parquet(s"$dir/fact.parquet")
    val dimCat = spark.read.parquet(s"$dir/dim_cat.parquet")
    val dimKey = spark.read.parquet(s"$dir/dim_key.parquet")
    val vf = VxFrame(fact)
    val tol = 1e-9
    def req(name: String, sql: String, t: Double = tol)(run: Ctx => Values) =
      Request(name, dir, sql, t, run)
    Seq(
      req("stats_virtual",
        """SELECT avg(sqrt(x*x + y*y)) FILTER (WHERE (x > 1 AND y < 0) OR t < 20),
          |  stddev_pop(sqrt(x*x + y*y)) FROM fact""".stripMargin) { c =>
        val f = c.span("build")(vf.withVirtualColumn("r", "sqrt(x**2 + y**2)")
          .select("(x > 1) & (y < 0)", name = "s1").select("t < 20", mode = "or", name = "s1"))
        c.span("action")(Values(Seq(Seq(f.meanExpr("r", Some("s1")), f.stdExpr("r")))))
      },
      req("delayed_batch",
        """SELECT count(*), sum(x), avg(y) FILTER (WHERE x > 1), stddev_pop(t), min(x), max(x)
          |FROM fact WHERE cat <> 3""".stripMargin) { c =>
        val f = c.span("build")(vf.filter("cat != 3").select("x > 1", name = "hi"))
        c.span("action") {
          val d = f.delayed()
          val n = d.count(); val s = d.sum("x"); val m = d.mean("y", Some("hi"))
          val sd = d.std("t"); val lo = d.min("x"); val hi = d.max("x")
          d.execute()
          Values(Seq(Seq(n(), s(), m(), sd(), lo(), hi())))
        }
      },
      Request("binby_2d", dir,
        """SELECT CAST(least(floor((x + 4.0) / 0.125), 63) AS BIGINT) * 64
          |     + CAST(least(floor((y + 4.0) / 0.125), 63) AS BIGINT) AS cell,
          |  CAST(count(*) AS DOUBLE) AS n
          |FROM fact WHERE x >= -4 AND x < 4 AND y >= -4 AND y < 4
          |GROUP BY 1""".stripMargin, tol,
        c => c.span("action")(cells(vf.binby(
          Seq(("x", -4.0, 4.0, 64), ("y", -4.0, 4.0, 64)), count(lit(1))))),
        twin = Some(() => {
          def bin(c: String) = least(floor((col(c) + 4.0) / 0.125), lit(63)).cast("long")
          val arr = new Array[Double](64 * 64)
          fact.where(col("x") >= -4 && col("x") < 4 && col("y") >= -4 && col("y") < 4)
            .groupBy((bin("x") * 64 + bin("y")).as("cell")).count().collect()
            .foreach(r => arr(r.getLong(0).toInt) = r.getLong(1).toDouble)
          cells(arr)
        }),
        kernel = Some(DenseCatAggSite)),
      Request("groupby_cat", dir,
        "SELECT cat, sum(x), avg(t) FROM fact GROUP BY cat", tol,
        c => {
          val f = c.span("build")(vf.categorizeOrdinal("cat", Gen.ExploreCats))
          c.span("action")(Values(collectRows(
            f.groupby(Seq("cat"), Map("x" -> "sum", "t" -> "mean")).df)))
        },
        twin = Some(() => Values(collectRows(
          fact.groupBy("cat").agg(sum("x"), avg("t"))))),
        kernel = Some(DenseCatAggSite)),
      req("groupby_hash", "SELECT key, sum(x), avg(t) FROM fact GROUP BY key") { c =>
        c.span("action")(Values(collectRows(
          vf.groupby(Seq("key"), Map("x" -> "sum", "t" -> "mean")).df)))
      },
      Request("join_dense", dir,
        "SELECT sum(w), avg(w * x) FROM fact LEFT JOIN dim_cat USING (dcat)", tol,
        c => {
          val dim = c.span("build")(VxFrame(dimCat).categorizeOrdinal("dcat", Gen.ExploreDcats))
          c.span("action")(joinStats(vf.join(dim, Seq("dcat"), "left")))
        },
        twin = Some(() => Values(collectRows(
          fact.join(broadcast(dimCat), Seq("dcat"), "left")
            .agg(sum("w"), avg(col("w") * col("x")))))),
        kernel = Some("dense_lookup_value")),
      req("join_hash",
        "SELECT sum(w), avg(w * x) FROM fact LEFT JOIN dim_key USING (dkey)") { c =>
        c.span("action")(joinStats(vf.join(VxFrame(dimKey), Seq("dkey"), "left")))
      },
      // percentile_approx at accuracy 10000 has rank error <= 1e-4; t is
      // uniform on [0, 100), so the median lands within 1e-3 relative
      req("percentile", "SELECT quantile_cont(t, 0.5) FROM fact", 1e-3) { c =>
        c.span("action")(Values(Seq(Seq(vf.percentile("t", 0.5)))))
      },
      req("nunique", "SELECT count(DISTINCT dkey) FROM fact") { c =>
        c.span("action")(Values(Seq(Seq(vf.nunique("dkey")))))
      })
  }

  /** The call site of `DenseCatAgg`'s merge job, which only its dense
    * path runs (the categorized groupby and the binby lowering). */
  private val DenseCatAggSite = "DenseCatAgg.scala"

  private def cells(arr: Array[Double]): Values =
    Values(arr.indices.filter(arr(_) != 0.0).map(i => Seq(i.toLong, arr(i))))

  private def joinStats(j: VxFrame): Values = {
    val d = j.delayed()
    val s = d.sum("w"); val m = d.mean("w * x")
    d.execute()
    Values(Seq(Seq(s(), m())))
  }

  private def fileStats(path: String): (Long, Int) = {
    val files = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    (files.map(_.length).sum, files.length)
  }

  /** An analyst exports a selection and opens it again through
    * graft.sources: the rows with t < 3 (3% of the table) go through one
    * sharded writer, the shards are opened with `Readers.open`, and what
    * was read back is aggregated. Pairing the write with the read makes a
    * read gain that costs the write show up. */
  private def exportRoundTrip(spark: SparkSession, vf: VxFrame, dir: String, fmt: String)
                             (write: (DataFrame, String) => Int): Request =
    Request(s"export_$fmt", dir,
      "SELECT cat, sum(x), avg(y), count(cat) FROM fact WHERE t < 3 GROUP BY cat", 1e-9, c => {
        val out = s"$dir/export/$fmt"
        val sel = c.span("build")(vf.filter("t < 3"))
        val files = c.span("write")(write(sel.df.select("x", "y", "cat"), out))
        val reopened = c.span("open")(graft.sources.Readers.open(spark, s"$out/part-*.$fmt"))
        val v = c.span("read")(Values(collectRows(VxFrame(reopened)
          .groupby(Seq("cat"), Map("x" -> "sum", "y" -> "mean", "cat" -> "count")).df)))
        c.count("bytes", fileStats(out)._1.toDouble)
        c.count("files", files)
        c.count("rows", v.rows.map(_(3).asInstanceOf[Long]).sum.toDouble)
        v
      })

  def exports(spark: SparkSession, data: String): Seq[Request] = {
    val dir = s"$data/explore"
    val vf = VxFrame(spark.read.parquet(s"$dir/fact.parquet"))
    Seq(
      exportRoundTrip(spark, vf, dir, "arrow")((df, out) =>
        graft.sources.ArrowIpc.writeSharded(df, out, batchRows = 8192, compression = Some("lz4"))),
      exportRoundTrip(spark, vf, dir, "hdf5")((df, out) =>
        graft.sources.Hdf5.toHdf5Sharded(df, out)),
      exportRoundTrip(spark, vf, dir, "jsonl.zst")((df, out) =>
        graft.sources.ZstdLines.toZstJsonlSharded(df, out)))
  }
}

/** Domains of the generated explore table (perfbench/gen.py). */
object Gen {
  val ExploreCats = 16
  val ExploreDcats = 1000
}
