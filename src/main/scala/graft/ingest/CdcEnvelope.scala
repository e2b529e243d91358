package graft.ingest

import graft.model.Schemas
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** CDC envelope handling: JSON deserialization + validity/op gates.
  *
  * Mirrors the reference's consumer-side contract:
  *  - F1 json.loads per message            (reference: event_processor.py:63)
  *  - F2 require __op/__table/__source_ts_ms, else drop
  *                                         (reference: strategy.py:12-18)
  *  - F3 keep only op='c' (creates); updates/deletes intentionally ignored —
  *    the feed is append-only              (reference: strategy.py:16-17)
  *  - malformed JSON -> skip-and-continue  (reference: event_processor.py:75-77),
  *    reproduced via PERMISSIVE parse -> null meta-fields -> dropped by F2.
  *
  * All gates are plain Column predicates: they stay inside whole-stage
  * codegen and push down to the source where possible.
  */
object CdcEnvelope {

  /** F1: parse a Kafka-shaped frame (`value: binary|string`) into the
    * flattened Debezium envelope `schema`. PERMISSIVE mode maps malformed
    * records to all-null rows (then dropped by [[valid]]).
    *
    * The struct is flattened by `inline`, not by a projection: Catalyst
    * pushes a filter beneath a projection by copying its expressions, so
    * the gates would run `from_json` a second time for every frame they
    * admit. No filter crosses a generator's output. */
  def parse(raw: DataFrame, schema: StructType): DataFrame =
    raw.select(inline(array(
      from_json(col("value").cast("string"), schema, Map("mode" -> "PERMISSIVE")))))

  /** F1 for one table: parse with that table's schema and keep the frames
    * whose `__source_table` names it. The per-table path; the multiplexed
    * stream parses each frame once with [[parseEnvelope]] instead. */
  def parseTable(raw: DataFrame, table: String): DataFrame = {
    val schema = Schemas.cdcSchemas(table)
    parse(raw, schema).where(col("__source_table") === table)
  }

  /** F1 for a multiplexed stream: parse each frame once with the merged
    * envelope of all four tables ([[Schemas.cdcEnvelope]]), whatever its
    * `__source_table`. A field of another table that is mistyped in a
    * frame reads null; the frame's own fields still parse. */
  def parseEnvelope(raw: DataFrame): DataFrame = parse(raw, Schemas.cdcEnvelope)

  /** F2: validity gate — the three required meta-fields must be present
    * (reference: strategy.py:12-18). */
  def valid(df: DataFrame): DataFrame =
    df.where(
      col("__op").isNotNull &&
        col("__table").isNotNull &&
        col("__source_ts_ms").isNotNull)

  /** F3: creates only. Deletes still *arrive* (`__deleted=true` under
    * delete.handling.mode=rewrite, reference config.json:18) but never pass
    * this gate (SURVEY.md §2.10 item 1). */
  def createsOnly(df: DataFrame): DataFrame =
    df.where(col("__op") === "c")

  /** F2 + F3 composed: the full admission predicate for the activity feed. */
  def admitted(df: DataFrame): DataFrame = createsOnly(valid(df))
}
