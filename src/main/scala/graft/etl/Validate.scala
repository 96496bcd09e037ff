package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** F15/A13 — constraint validation with one counting form, replacing
  * the reference's per-record Pydantic loop
  * (`structure_data.py:263-288`). A row is valid when the constraint
  * is true and invalid otherwise, a null verdict included. Both tallies
  * are `count_if`s over one pass: [[observedValid]] gathers them as an
  * `Observation` on the action that consumes the valid rows, and
  * [[stats]] is the same aggregate as a lazy one-row frame.
  */
object Validate {

  private def nValid(constraint: Column): Column =
    count_if(constraint).as("n_valid")
  private def nInvalid(constraint: Column): Column =
    count_if(!coalesce(constraint, lit(false))).as("n_invalid")

  /** Valid rows + an Observation that yields n_valid/n_invalid once the
    * returned frame is consumed by an action. Read it only after that
    * action: `get` waits for a run that has not happened.
    */
  def observedValid(df: DataFrame, constraint: Column): (DataFrame, Observation) = {
    val obs = Observation()
    (df.observe(obs, nValid(constraint), nInvalid(constraint)).filter(constraint), obs)
  }

  /** The silver-layer constraint (`code/schemas.py:27` + required
    * fields): filing_count ≥ 0 and key identity fields present.
    */
  def companyConstraint: Column =
    col("filing_count") >= 0 &&
      col("id").isNotNull && col("id") =!= "" &&
      col("entity_name").isNotNull && col("entity_name") =!= ""

  /** A13: stats row for the history sink (S8), one lazy aggregate. */
  def stats(df: DataFrame, constraint: Column): DataFrame =
    df.agg(nValid(constraint), nInvalid(constraint))
      .select(col("n_valid").as("valid_records"), col("n_invalid").as("invalid_records"),
        (col("n_valid") + col("n_invalid")).as("total_records"))
}
