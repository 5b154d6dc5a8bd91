package graft.models

import graft.checks.Checks
import graft.sources.MaudeIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * DAG runner for the vigilance models (reference `dbt run` semantics,
 * SURVEY.md §3 E1): builds the models in topological order —
 * seed → stg_maude → fact_adverse_events → ae_counts_q →
 * v_ae_early_signals. Staging and the signals view are views
 * (dbt_project.yml:10-12), the marts are tables (dbt_project.yml:13-15).
 *
 * With `martsDir`, [[run]] materializes like `dbt run`: each mart is
 * written, and the model downstream of it reads the persisted mart (dbt
 * `ref()` semantics), so one refresh parses the landing once. Without
 * `martsDir` the whole DAG stays lazy.
 *
 * Each mart write is tagged via the job group (the QUERY_TAG / FinOps
 * analog, README.md:128-133). The fact mart is partitioned by
 * receive-year so time-scoped reads prune at 100 TB.
 */
object Pipeline {

  final case class Models(
      stgMaude: DataFrame,
      factAdverseEvents: DataFrame,
      aeCountsQ: DataFrame,
      vAeEarlySignals: DataFrame)

  /** Build the full lazy DAG from a landing DataFrame + seed. */
  def build(maudeRaw: DataFrame, manufacturer: DataFrame): Models = {
    val stg    = StgMaude(maudeRaw)
    val fact   = FactAdverseEvents(stg, manufacturer)
    val counts = AeCountsQ(fact)
    val sig    = VAeEarlySignals(counts)
    Models(stg, fact, counts, sig)
  }

  private val JobGroupProps =
    Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

  /** Run end-to-end from paths. With `martsDir`, write the marts there
    * (parquet, facts partitioned by receive-year) and feed each
    * downstream model from the mart it reads; without it, return the
    * lazy DAG. Registers every model as a temp view and returns them. */
  def run(spark: SparkSession, landingPath: String, seedPath: String,
          martsDir: Option[String] = None): Models = {
    val sc = spark.sparkContext
    def tagged[T](tag: String)(body: => T): T = {
      val saved = JobGroupProps.map(k => k -> sc.getLocalProperty(k))
      sc.setJobGroup(tag, s"vigilance:$tag", interruptOnCancel = false)
      try body finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
    // Write a mart, then read it back with the schema it was written
    // with: no schema-inference job.
    def persist(tag: String, df: DataFrame, path: String, partitionBy: String*): DataFrame = {
      tagged(tag)(df.write.mode("overwrite").partitionBy(partitionBy: _*).parquet(path))
      spark.read.schema(df.schema).parquet(path)
    }

    val lazyModels = build(
      MaudeIngest.batch(spark, landingPath),
      MaudeIngest.manufacturerSeed(spark, seedPath))

    val models = martsDir.fold(lazyModels) { dir =>
      val fact = persist("fact_adverse_events",
        lazyModels.factAdverseEvents.withColumn("yyyy", year(col("date_received"))),
        s"$dir/fact_adverse_events", "yyyy").drop("yyyy")
      val counts = persist("ae_counts_q", AeCountsQ(fact), s"$dir/ae_counts_q")
      Models(lazyModels.stgMaude, fact, counts, VAeEarlySignals(counts))
    }

    models.stgMaude.createOrReplaceTempView("stg_maude")
    models.factAdverseEvents.createOrReplaceTempView("fact_adverse_events")
    models.aeCountsQ.createOrReplaceTempView("ae_counts_q")
    models.vAeEarlySignals.createOrReplaceTempView("v_ae_early_signals")
    models
  }

  /** The reference's schema tests (`dbt test`, SURVEY.md §3 E3). */
  def checks(m: Models): Map[String, DataFrame] = Map(
    "stg_mdr_report_key_not_null" -> Checks.notNull(m.stgMaude, "mdr_report_key"),
    "stg_mdr_report_key_unique"   -> Checks.unique(m.stgMaude, "mdr_report_key"),
    "stg_report_number_not_null"  -> Checks.notNull(m.stgMaude, "report_number"),
    "stg_event_type_accepted"     -> Checks.acceptedValues(m.stgMaude, "event_type",
      Seq("Injury", "Malfunction", "Death", "Other", "No Answer Provided")),
    "stg_narrative_conditional"   -> Checks.notNull(m.stgMaude, "narrative_text",
      col("narrative_len") > 0),
    "fact_event_id_not_null"      -> Checks.notNull(m.factAdverseEvents, "event_id"),
    "fact_event_id_unique"        -> Checks.unique(m.factAdverseEvents, "event_id"),
    // The reference declares this even though the fact model never filters
    // NULL dates (models/marts/schema.yml:9-10; SURVEY.md §3 note) — it
    // fails whenever the data has date gaps, by design.
    "fact_date_received_not_null" -> Checks.notNull(m.factAdverseEvents, "date_received"),
    "fact_narrative_conditional"  -> Checks.notNull(m.factAdverseEvents, "narrative_text",
      col("narrative_len") > 0))
}
