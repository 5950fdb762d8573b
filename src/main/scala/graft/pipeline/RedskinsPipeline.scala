package graft.pipeline

import java.sql.Date
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The flagship end-to-end pipeline: the reference's full transform workload
  * (`jobs/transform/nfl-elec-transform-v2.py`) re-expressed as composable,
  * fully declarative Spark stages. Correctness anchor: the reference's
  * committed golden output (`results/nfl_elec_results.parquet`, 12 elections
  * 1976–2020) — see `RedskinsGoldenSpec`.
  *
  * Deliberate divergences from the reference (same output, sound semantics):
  *  - The driver-side stateful prediction loop (v2:314-342, `collect()` +
  *    pandas + re-join) is ONE window expression: `coalesce(lag(toggle),
  *    toggle)` over elec_date — no driver round-trip, fully distributed.
  *  - The reference's `collect()` at v2:335 has no ORDER BY (iteration order
  *    is plan-dependent); every ordered window here pins a total order
  *    (elec_date NULLS FIRST, then row_num for candidate-level sequences).
  *  - `home_team_rnk` orders by `row_num` CAST TO INT — the reference orders
  *    the raw string index (v2:106), which would mis-order '10' < '9'.
  *  - Single directory-scan + `dropDuplicates` replaces the per-file
  *    union loop (v2:62-65); Spark's InMemoryFileIndex distributes listing.
  *
  * Single partition, decided at plan time: each of the three sources (the
  * raw NFL frame, the raw elections frame, the election-date list) is
  * `coalesce(1)`-ed where the stage takes it. `CoalesceExec(1)` reports
  * `SinglePartition`, which satisfies every downstream `dropDuplicates`,
  * `partitionBy` window, global window and the final sort, so the plan has
  * no shuffle: 4 Spark jobs (3 broadcasts and the result) instead of 11.
  * The bound: the inputs are one CSV of Washington games per election-year
  * NFL season and one row per candidate per election (108 game rows in 12
  * files and 29 election rows in the fixtures; a century of either stays
  * in the low thousands), and AQE already ran every one of the removed
  * shuffles as a single partition.
  * Inputs that outgrow one task belong on the keyed, distributed variants
  * (`Relational.q15AsofJoin`).
  */
object RedskinsPipeline {

  /** Raw NFL schedule schema (v2:53-59); the unnamed pandas index column is
    * read as `row_num` directly (the reference renames it at v2:84). */
  val nflSchema: StructType = StructType(Seq(
    StructField("row_num", StringType, nullable = true),
    StructField("year", IntegerType, nullable = true),
    StructField("date", StringType, nullable = true),
    StructField("team", StringType, nullable = true),
    StructField("final", StringType, nullable = true)))

  /** Raw elections schema (v2:127-135). */
  val elecSchema: StructType = StructType(Seq(
    StructField("row_num", LongType, nullable = true),
    StructField("year", StringType, nullable = true),
    StructField("candidate", StringType, nullable = true),
    StructField("political_party", StringType, nullable = true),
    StructField("electoral_votes", LongType, nullable = true),
    StructField("popular_votes", StringType, nullable = true),
    StructField("popular_percentage", StringType, nullable = true)))

  def loadNflCsv(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("header", "true").schema(nflSchema).csv(dir)

  def loadElectionsCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(elecSchema).csv(path)

  /** Election day (first Tuesday after the first Monday of November) every
    * 4 years — pure function, mirrors v2:153-164. */
  def electionDays(from: Int = 1976, to: Int = 2024): Seq[Date] =
    (from to to by 4).map { y =>
      var d = java.time.LocalDate.of(y, 11, 1)
      while (d.getDayOfWeek != java.time.DayOfWeek.MONDAY) d = d.plusDays(1)
      Date.valueOf(d.plusDays(1))
    }

  def electionDaysDf(spark: SparkSession, from: Int = 1976, to: Int = 2024): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      electionDays(from, to).map(org.apache.spark.sql.Row(_)).asJava,
      StructType(Seq(StructField("elec_date", DateType, nullable = true))))
  }

  /** Messy-date regex, ported from v2:68 (M/d inside arbitrary text). */
  val dateRegex = "((0?[1-9]|1[0-2])/([12][0-9]|3[01]|0?[1-9]))"

  /** NFL half (v2:67-114): format, filter postseason, home-team inference by
    * per-game rank, winner via max_by window, Washington-home filter. */
  def nflStage(raw: DataFrame): DataFrame = {
    val formatted = raw.coalesce(1)
      .withColumn("day_month", regexp_extract(col("date"), dateRegex, 0))
      .filter(length(col("date")) < 10)
      .withColumn("game_date", to_date(concat(col("day_month"), lit("/"), col("year")), "M/d/yyyy"))
      .withColumn("team", element_at(split(col("team"), "\\("), 1))
      .withColumn("final", col("final").cast(IntegerType))
      .dropDuplicates()
    val wRank = Window.partitionBy("game_date").orderBy(col("row_num").cast("int"))
    val wPart = Window.partitionBy("game_date")
    formatted
      .select(col("game_date"), col("team"), col("final").as("final_score"),
        rank().over(wRank).as("home_team_rnk"))
      .withColumn("winning_team", max_by(col("team"), col("final_score")).over(wPart))
      .withColumn("winning_team_score", max(col("final_score")).over(wPart))
      .withColumn("redskins_result",
        when(col("team") === col("winning_team"), "WIN").otherwise("LOSE"))
      .filter(col("team") === "Washington" && col("home_team_rnk") === 2)
  }

  /** Elections half (v2:143-271): format, election-date attach (broadcast
    * equi-join on year-trunc), per-candidate windows, challenger derivation,
    * winner aggregation, incumbent lags. */
  def elecStage(raw: DataFrame, elecDates: DataFrame): DataFrame = {
    val formatted = raw.coalesce(1)
      .withColumn("year", to_date(col("year"), "yyyy"))
      .withColumn("popular_votes", translate(col("popular_votes"), ",", "").cast(LongType))
      .where(col("year") >= lit(Date.valueOf("1972-01-01")))
    // J1: attach the real election date (small side broadcast)
    val withDates = formatted.join(
      broadcast(elecDates.select("elec_date").coalesce(1).distinct()),
      date_trunc("year", col("year")) === date_trunc("year", col("elec_date")), "left")

    val wDate = Window.partitionBy("elec_date")
    // candidate-level popular-vote winner windows (foo, v2:218-228)
    val foo = withDates
      .withColumn("pop_winning_candidate", max_by(col("candidate"), col("popular_votes")).over(wDate))
      .withColumn("pop_winning_party", max_by(col("political_party"), col("popular_votes")).over(wDate))
    // challenger party (bar, v2:229-256): rows whose party differs from the
    // previous row's winning party, top electoral rank among them. The
    // intra-date sequence is pinned to row_num (the reference leaves it to
    // plan order — survey §2.9 hazard).
    val wSeq = Window.orderBy(col("elec_date").asc_nulls_first, col("row_num"))
    val bar = withDates
      .withColumn("pres_winning_party", max_by(col("political_party"), col("electoral_votes")).over(wDate))
      .withColumn("prev_winning_party", lag(col("pres_winning_party"), 1).over(wSeq))
      .filter(col("political_party") =!= col("prev_winning_party"))
      .withColumn("electoral_rank_desc", rank().over(wDate.orderBy(col("electoral_votes").desc)))
      .filter(col("electoral_rank_desc") === 1)
      .select(col("elec_date").as("b_elec_date"),
        col("political_party").as("challenger_pres_party"))
    val joined = foo.join(broadcast(bar), col("elec_date") === col("b_elec_date"), "left")
      .drop("b_elec_date")
      .withColumn("electoral_rank_desc", rank().over(wDate.orderBy(col("electoral_votes").desc)))
      .withColumn("popular_rank_desc", rank().over(wDate.orderBy(col("popular_votes").desc)))
    // winner aggregation over the electoral-rank-1 rows (v2:200-267)
    val grouped = joined
      .filter(col("electoral_rank_desc") === 1)
      .groupBy("elec_date", "electoral_rank_desc", "popular_rank_desc",
        "pop_winning_candidate", "pop_winning_party", "challenger_pres_party")
      .agg(
        max_by(col("political_party"), col("electoral_votes")).as("pres_winning_party"),
        max_by(col("candidate"), col("electoral_votes")).as("pres_winning_candidate"),
        max(col("electoral_votes")).as("count_electoral_votes"),
        max(col("popular_votes")).as("count_popular_votes"))
    // incumbent lags over the (tiny) per-election series (v2:188-198)
    val wElec = Window.orderBy(col("elec_date").asc_nulls_first)
    grouped
      .select("elec_date", "pres_winning_party", "pres_winning_candidate",
        "count_electoral_votes", "count_popular_votes", "pop_winning_candidate",
        "pop_winning_party", "electoral_rank_desc", "popular_rank_desc",
        "challenger_pres_party")
      .withColumn("incumbent_pres_party", lag(col("pres_winning_party"), 1).over(wElec))
      .withColumn("pop_incumbent_party", lag(col("pop_winning_party"), 1).over(wElec))
      .withColumn("pop_incumbent_elec_result",
        when(col("pres_winning_party") === col("pop_incumbent_party"), "WIN").otherwise("LOSE"))
  }

  /** J3: as-of join — last Washington home game within 30 days before each
    * election, rank-1 on the day gap (v2:274-292). Keyless interval join is
    * fine at per-election cardinality; at scale use the keyed variant
    * (`Relational.q15AsofJoin`). */
  def asOfJoin(elec: DataFrame, nfl: DataFrame): DataFrame = {
    val joined = elec.join(nfl,
        datediff(col("elec_date"), col("game_date")).between(0, 30), "left")
      .withColumn("date_diff", datediff(col("elec_date"), col("game_date")).cast("long"))
    val w = Window.partitionBy("elec_date").orderBy(col("date_diff").asc)
    joined
      .withColumn("diff_rank_asc", rank().over(w))
      .filter(col("diff_rank_asc") === 1)
  }

  /** Predictions (v2:296-351): the sequential toggle loop as a pure window
    * expression. Row i uses row i−1's toggle; the first row uses its own —
    * `coalesce(lag(toggle), toggle)`. */
  def predictions(df: DataFrame): DataFrame = {
    val w = Window.orderBy(col("elec_date").asc_nulls_first)
    val toggle = when(col("pop_winning_party") =!= col("pres_winning_party"), -1).otherwise(1)
    val applied = coalesce(lag(toggle, 1).over(w), toggle)
    val normal = when(col("redskins_result") === "WIN", col("incumbent_pres_party"))
      .otherwise(col("challenger_pres_party"))
    val flipped = when(col("redskins_result") === "LOSE", col("incumbent_pres_party"))
      .otherwise(col("challenger_pres_party"))
    df
      .withColumn("p_elec_date", col("elec_date"))
      .withColumn("prediction", when(applied === 1, normal).otherwise(flipped))
      .withColumn("prediction_results", col("pres_winning_party") === col("prediction"))
      .where(col("elec_date") >= lit(Date.valueOf("1976-01-01")))
  }

  /** Typed edge: the same pipeline surfaced as `Dataset[NflElecResult]`
    * (SURVEY §1 mapping decision). The plan is identical — `.as[T]` only
    * attaches the encoder; columns keep flowing untyped through Catalyst. */
  def runTyped(rawNfl: DataFrame, rawElec: DataFrame,
      elecDates: DataFrame): org.apache.spark.sql.Dataset[NflElecResult] =
    run(rawNfl, rawElec, elecDates)
      .as(org.apache.spark.sql.Encoders.product[NflElecResult])

  /** Full pipeline: raw frames → 25-column golden-shaped result, ordered by
    * election date. */
  def run(rawNfl: DataFrame, rawElec: DataFrame, elecDates: DataFrame): DataFrame = {
    val nfl = nflStage(rawNfl)
    val elec = elecStage(rawElec, elecDates)
    predictions(asOfJoin(elec, nfl))
      .select("elec_date", "pres_winning_party", "pres_winning_candidate",
        "count_electoral_votes", "count_popular_votes", "pop_winning_candidate",
        "pop_winning_party", "electoral_rank_desc", "popular_rank_desc",
        "challenger_pres_party", "incumbent_pres_party", "pop_incumbent_party",
        "pop_incumbent_elec_result", "game_date", "team", "final_score",
        "home_team_rnk", "winning_team", "winning_team_score", "redskins_result",
        "date_diff", "diff_rank_asc", "p_elec_date", "prediction", "prediction_results")
      .orderBy("elec_date")
  }
}
