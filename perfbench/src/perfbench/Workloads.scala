package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Engine, SparkEntry}
import graft.operators.FixtureTemplates

/** One operation of a workload's fixed rotation. `rows` is the row count
  * of the generated table the operation aggregates (the basis of
  * `rows_per_s`), 0 for a fixture query; `check` returns `None` when the
  * collected result is right and a reason when it is not.
  */
final case class Op(
    name: String,
    rows: Long,
    run: SparkSession => DataFrame,
    check: (DataFrame, Array[Row]) => Option[String])

/** Where one setup repetition puts its inputs. Each repetition gets its
  * own fixture alias, so `FixtureTemplates.prewarm` (cached per fixture
  * path) really rebuilds its templates instead of hitting the cache.
  */
final case class SetupCtx(rep: Int, work: Path, fixtures: Path, seed: Long, rows: Long) {
  lazy val sfDir: String = {
    val alias = work.resolve(s"sf_rep$rep")
    if (!Files.exists(alias)) Files.createSymbolicLink(alias, fixtures.toAbsolutePath)
    alias.toString
  }
}

trait Workload {
  def name: String
  def opNames: Seq[String]
  /** Untimed warm-up before an untraced loop: the whole rotation (`true`),
    * or only the operation that closes it. Compute-bound operations each
    * have their own JIT paths; the store operations share theirs, and a
    * round of them costs too much run time to repeat. A traced run always
    * warms the whole rotation.
    */
  def warmRound: Boolean = false
  /** Input generation for one setup repetition. */
  def inputs(spark: SparkSession, ctx: SetupCtx): Unit
  /** Template pre-build for one setup repetition. */
  def warmup(spark: SparkSession, ctx: SetupCtx): Unit =
    FixtureTemplates.prewarm(spark, ctx.sfDir, Some(opNames.toSet))
  /** The rotation, bound to the last setup repetition's inputs. Expected
    * answers are computed here, outside the timed setup.
    */
  def ops(spark: SparkSession, ctx: SetupCtx, oracle: OracleDumps): Seq[Op]
}

object Workloads {
  def byName(name: String): Workload = name match {
    case "distinct_agg" => DistinctAgg
    case "store_lifecycle" => new EntryWorkload("store_lifecycle", Seq(
      "q_store_incremental", "q_store_merge", "q_store_update",
      "q_store_delete", "q_store_optimize", "q_store_vacuum",
      "q_store_matview", "q_txn_stores", "q_time_travel", "q_store_skipping"))
    case "stream_ingest" => new EntryWorkload("stream_ingest", Seq(
      "q_stream_store_follow", "q_stream_cluster_append", "q_stream_text_index",
      "q_stream_index_append", "q_stream_store_cdc", "q_stream_cdc_matview",
      "q_stream_dedup"))
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** A `SparkEntry.queries` operation, checked against the oracle on its
    * first pass (through the dump) and against the first pass afterwards.
    */
  def entryOp(sfDir: String, query: String, oracle: OracleDumps): Op =
    Op(query, 0L, s => SparkEntry.queries(query)(s, sfDir),
      (df, rows) => oracle.check(query, df, rows))
}

/** Store and stream workloads: a fixed rotation of `SparkEntry.queries` at
  * the vendored sf0.1 fixtures; templates are built in setup.
  */
final class EntryWorkload(val name: String, val opNames: Seq[String]) extends Workload {
  /** The fixtures are vendored: there is nothing to generate. */
  def inputs(spark: SparkSession, ctx: SetupCtx): Unit = ()
  def ops(spark: SparkSession, ctx: SetupCtx, oracle: OracleDumps): Seq[Op] =
    opNames.map(q => Workloads.entryOp(ctx.sfDir, q, oracle))
}

/** The paper's operator under load: a seeded table with a Zipf-skewed
  * group key and three string keys of growing cardinality, aggregated by
  * several `count300k` at once, by a sketch rollup, and by the flagship
  * `q_multi_distinct` at sf0.1.
  */
object DistinctAgg extends Workload {
  val name = "distinct_agg"
  val opNames = Seq("count300k_multi", "sketch_rollup", "q_multi_distinct")
  override def warmRound: Boolean = true
  val Groups = 16
  val ZipfS = 1.5

  @volatile private var table: String = _

  def tablePath(ctx: SetupCtx): String = ctx.work.resolve(s"agg_rep${ctx.rep}").toString

  /** Inverse-CDF cut points of a Zipf(s) over `Groups` values: the hottest
    * group takes about half the rows.
    */
  private def groupExpr: String = {
    val w = (1 to Groups).map(k => math.pow(k, -ZipfS))
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    val cases = cdf.init.zipWithIndex
      .map { case (c, i) => s"WHEN u < $c THEN $i" }.mkString(" ")
    s"CASE $cases ELSE ${Groups - 1} END"
  }

  def inputs(spark: SparkSession, ctx: SetupCtx): Unit = {
    val s = ctx.seed
    val hiRange = math.max(1L, (ctx.rows * 7) / 10)
    spark.range(0, ctx.rows, 1, 8)
      .selectExpr("id",
        s"pmod(xxhash64(id, ${s}L, 1), 1073741824) / 1073741824.0 AS u",
        s"concat('lo', pmod(xxhash64(id, ${s}L, 2), 1000)) AS k_lo",
        s"concat('mid', pmod(xxhash64(id, ${s}L, 3), 100000)) AS k_mid",
        s"concat('hi', pmod(xxhash64(id, ${s}L, 4), $hiRange)) AS k_hi")
      .selectExpr(s"$groupExpr AS g", "k_lo", "k_mid", "k_hi")
      .write.mode("overwrite").parquet(tablePath(ctx))
    table = tablePath(ctx)
  }

  def frame(spark: SparkSession): DataFrame = {
    Engine.register(spark)
    spark.read.parquet(table)
  }

  def count300kMulti(spark: SparkSession): DataFrame = {
    frame(spark).createOrReplaceTempView("t")
    spark.sql("SELECT g, count300k(k_lo) AS d_lo, count300k(k_mid) AS d_mid, " +
      "count300k(k_hi) AS d_hi FROM t GROUP BY g")
  }

  /** The built-in answer of the same shape (also timed for `builtin_ratio`). */
  def builtinMulti(spark: SparkSession): DataFrame = {
    frame(spark).createOrReplaceTempView("t")
    spark.sql("SELECT g, count(DISTINCT k_lo) AS d_lo, count(DISTINCT k_mid) AS d_mid, " +
      "count(DISTINCT k_hi) AS d_hi FROM t GROUP BY g")
  }

  /** Fine sketches per (g, k_lo) rolled up to g. */
  def sketchRollup(spark: SparkSession): DataFrame = {
    frame(spark).createOrReplaceTempView("t")
    spark.sql(
      """SELECT g, sketch_count(sketch_merge(s_mid)) AS d_mid,
        |       sketch_count(sketch_merge(s_hi)) AS d_hi
        |FROM (SELECT g, k_lo, sketch_agg(k_mid) AS s_mid, sketch_agg(k_hi) AS s_hi
        |      FROM t GROUP BY g, k_lo)
        |GROUP BY g""".stripMargin)
  }

  def ops(spark: SparkSession, ctx: SetupCtx, oracle: OracleDumps): Seq[Op] = {
    // expected answers from Spark's own count(DISTINCT), once per run
    val expected: Map[Int, Seq[Long]] = builtinMulti(spark).collect()
      .map(r => r.getInt(0) -> Seq(r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    def compare(rows: Array[Row], cols: Seq[Int]): Option[String] = {
      val got = rows.map(r => r.getInt(0) ->
        (1 until r.length).map(i => r.get(i).toString.toLong)).toMap
      val want = expected.map { case (g, v) => g -> cols.map(v) }
      if (got == want) None
      else Some(s"counts differ from count(DISTINCT) in ${
        (want.keySet ++ got.keySet).count(g => want.get(g) != got.get(g))} groups")
    }
    Seq(
      Op("count300k_multi", ctx.rows, count300kMulti, (_, rows) => compare(rows, Seq(0, 1, 2))),
      Op("sketch_rollup", ctx.rows, sketchRollup, (_, rows) => compare(rows, Seq(1, 2))),
      Workloads.entryOp(ctx.sfDir, "q_multi_distinct", oracle))
  }

  /** The distinct `k_hi` values of the hottest group, for the wire timings. */
  def hotKeys(spark: SparkSession): Array[String] =
    frame(spark).where("g = 0").select("k_hi").distinct().collect().map(_.getString(0))
}
