package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** CDM-style harmonization helpers: the normalize/cast/surrogate-key block
  * every silver notebook applies
  * (reference: 4_silver/silver_transactions.py:72-95,
  *  4_silver/silver_customers.py:63-80).
  *
  * All pure `Column` combinators — they stay inside whole-stage codegen and
  * let Catalyst push the enclosing filters/projections to the scan.
  */
object Cdm {

  /** Normalized string: trimmed + upper-cased (currency/direction/status
    * normalization in the reference).
    */
  def normUpper(c: Column): Column = upper(trim(c))

  /** Cross-source business key: `<id>-<source_system>`
    * (reference: 4_silver/silver_transactions.py:84
    *  `concat_ws("-", transaction_id, source_system)`). Null id → null key,
    * matching the reference's merchant/counterparty guards (lines 86-89).
    */
  def sourceKey(id: Column, sourceSystem: Column): Column =
    when(id.isNull, lit(null)).otherwise(concat_ws("-", id.cast("string"), sourceSystem))

  /** Deterministic hash surrogate key over an ordered list of parts,
    * null-safe via a sentinel (md5 of '|'-joined parts).
    */
  def hashKey(parts: Column*): Column =
    md5(concat_ws("|", parts.map(p => coalesce(p.cast("string"), lit("\u0000"))): _*))

  /** Portable 60-bit non-negative hash of a string column: identical value is
    * reproducible in DuckDB as `('0x' || substr(md5(x),1,15))::BIGINT`, which
    * the oracle SQL relies on. 15 hex digits = 60 bits < 63, so no sign issues.
    *
    * Evaluates via the native [[graft.functions.Hash60]] expression
    * (registered by the GraftExtensions session extension, as graft
    * sessions configure, or by `graft.sql.SqlFunctions.register`);
    * [[hash60Composed]] is the built-ins-only equivalent.
    */
  def hash60(c: Column): Column =
    call_function("graft_hash60", c.cast("string"))

  /** Built-in-only formulation of [[hash60]] (same values, 4-expression
    * chain through the hex string).
    */
  def hash60Composed(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")
}
