package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Outcome of a validation pass: the clean rows (declared schema) and the
  * rejected rows tagged with a `reject_reason`. Both sides derive from ONE
  * cached scan — unlike the reference, which re-executes the CSV scan for
  * every rule and count (reference: src/utils/validation.py:63-87 chains
  * five filter+write+count rounds, each recomputing lineage; SURVEY.md §4).
  * `base` is that cached scan (None when uncached); [[unpersist]]
  * releases it — the derived frames are never cached themselves, and a
  * base left registered in the cache manager would answer the next
  * validation of an equal plan (same raw path) with the earlier drop's
  * rows.
  */
final case class ValidationResult(valid: DataFrame, rejected: DataFrame,
                                  base: Option[DataFrame] = None) {
  def unpersist(): Unit = base.foreach(_.unpersist())

  /** (rows read, rows valid). Cached: ONE aggregate over the base — the
    * job that fills the cache also answers both counts. Uncached: a
    * count of each side. */
  def counts(): (Long, Long) = base match {
    case Some(b) =>
      val r = b.agg(count(lit(1)),
        count(when(col(Validation.ReasonCol).isNull, 1))).head()
      (r.getLong(0), r.getLong(1))
    case None =>
      val v = valid.count()
      (v + rejected.count(), v)
  }
}

/** The reference's signature composite operator (SURVEY.md §2.12),
  * re-expressed as a single-pass, reason-tagged split.
  *
  * Rules, in reference order (reference: src/utils/validation.py):
  *   1. enforce_schema       — cast every column to its declared type;
  *                             unparseable values become null (P1, :12-16)
  *   2. schema / null checks — reject rows where the PK or any required
  *                             column is null after the cast (P2-P5, :19-49)
  *   3. invalid timestamps   — reject rows whose timestamp column fails to
  *                             cast (P6, :52-60)
  *
  * Scale notes (100 TB): the whole thing is a projection + two
  * complementary filters over one scan — no shuffle, fully
  * whole-stage-codegen'd, and the reason expression folds into the same
  * generated code as the cast. Reject side-outputs are written once, not
  * once per rule.
  */
object Validation {

  val ReasonCol = "reject_reason"

  /** P1 — cast-projection. `try_cast` (not `cast`) so bad values become
    * null under Spark 4's default ANSI mode, matching the reference's
    * non-ANSI cast→null semantics (reference: validation.py:12-16). */
  def enforceSchema(df: DataFrame, schema: StructType): DataFrame =
    df.select(castColumns(df, schema): _*)

  private def castColumns(df: DataFrame, schema: StructType): Seq[Column] =
    schema.fields.toSeq.map { f =>
      if (df.columns.contains(f.name))
        tryCastColumn(col(f.name), df.schema(f.name).dataType, f.dataType)
          .as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }

  /** Non-throwing TRY_CAST: Spark's TRY-mode string→integral cast
    * reaches its null result by CONSTRUCTING AND DISCARDING a JVM
    * exception per failing row (~10µs each, measured) — a mostly-invalid
    * column makes the whole scan exception-bound (600k all-invalid rows:
    * 9.5s → 0.4s with the guard; fatal at 100 TB). The regex admits
    * exactly the strings ANSI TRY accepts syntactically (padding of any
    * chars ≤ 0x20, which TRY trims; optional sign; digits only —
    * decimals and exponents are rejected, verified against Spark 4), so
    * the inner try_cast only runs on parseable rows and throws only for
    * in-syntax overflow, which it nulls — exact TRY semantics. */
  def tryCastColumn(c: Column, from: DataType, to: DataType): Column =
    (from, to) match {
      case (StringType, ByteType | ShortType | IntegerType | LongType) =>
        // 0* before the capped digits: TRY accepts any number of
        // leading zeros (zero-padded ID feeds), only SIGNIFICANT digits
        // beyond 19 are a guaranteed overflow
        when(c.rlike("^[\\x00-\\x20]*[+-]?0*[0-9]{1,19}[\\x00-\\x20]*$"),
          c.try_cast(to)).otherwise(lit(null).cast(to))
      case _ => c.try_cast(to)
    }

  /** The reason a row would be rejected, or null if it is clean. First
    * failing rule wins, in the reference's rule order: null PK, then each
    * required column in declared order, then timestamp validity.
    * (A value that fails its cast surfaces here as a null, so the
    * reference's separate "schema mismatch" rule collapses into the null
    * checks — same keep-set, SURVEY.md §2.12.)
    *
    * The timestamp rule is evaluated against the PRE-cast raw values via
    * the `tsInvalidFlag` boolean carried through the cast-projection —
    * post-cast the column is already TimestampType and the rule could
    * never fire (the reference's step 5 is identically dead,
    * validation.py:54 runs after enforce_schema). This way a malformed
    * timestamp in a nullable, non-required column is still rejected with
    * the right tag, matching the reference's *intent*. */
  def reasonFor(primaryKey: String, required: Seq[String],
                tsFlagCols: Seq[String]): Column = {
    val pkRule: Seq[(Column, String)] =
      Seq(col(primaryKey).isNull -> "null_primary_key")
    val requiredRules = required.filterNot(_ == primaryKey).map { c =>
      col(c).isNull -> s"null_required_column:$c"
    }
    val tsRules = tsFlagCols.map { c =>
      (col(tsInvalidFlag(c)) === lit(true)) -> s"invalid_timestamp:$c"
    }
    (pkRule ++ requiredRules ++ tsRules)
      .foldRight(lit(null).cast(StringType)) { case ((cond, reason), rest) =>
        when(cond, reason).otherwise(rest)
      }
  }

  /** Name of the carried-through boolean marking a raw value that is
    * present but fails the timestamp cast. */
  def tsInvalidFlag(c: String): String = s"__graft_ts_invalid_$c"

  /** Full composite (reference: validate_dataframe, validation.py:63-87).
    *
    * @param required columns that must be non-null after the cast; defaults
    *                 to the schema's non-nullable fields (SURVEY.md §1.2)
    * @param cache    persist the tagged frame so valid/rejected/counts share
    *                 one computation (the reference recomputes ~8×, §4)
    */
  def validate(df: DataFrame, schema: StructType, primaryKey: String,
               required: Seq[String] = Nil,
               timestampCols: Seq[String] = Seq("order_timestamp"),
               cache: Boolean = true): ValidationResult = {
    val req = if (required.nonEmpty) required
              else schema.fields.filterNot(_.nullable).map(_.name).toSeq
    // column-presence guard mirrors the reference (validation.py:53)
    val tsPresent = timestampCols.filter(df.columns.contains)
    // pre-cast validity flags (computed on the raw values, see reasonFor)
    val flagCols = tsPresent.map { c =>
      (col(c).isNotNull && col(c).try_cast(TimestampType).isNull)
        .as(tsInvalidFlag(c))
    }
    val casted = df.select(castColumns(df, schema) ++ flagCols: _*)
    val tagged = casted.withColumn(
      ReasonCol, reasonFor(primaryKey, req, tsPresent))
    val t = if (cache) tagged.persist() else tagged
    val carried = tsPresent.map(tsInvalidFlag)
    ValidationResult(
      valid = t.filter(col(ReasonCol).isNull).drop(ReasonCol +: carried: _*),
      rejected = t.filter(col(ReasonCol).isNotNull).drop(carried: _*),
      base = if (cache) Some(t) else None)
  }

  /** K3 — rejected-record side output (reference: validation.py:26 et al,
    * mode=append so successive batches accumulate). */
  /** K3 — append the rejects as CSV. `knownCount` skips the emptiness
    * probe when the caller already counted (the pipeline always has):
    * on an uncached frame `isEmpty` is a full extra scan of the source
    * — the exact recompute-per-rule pattern this module exists to
    * avoid. With no known count the probe still guards against
    * creating empty reject dirs on clean runs. */
  def writeRejected(rejected: DataFrame, path: String,
                    knownCount: Option[Long] = None): Unit =
    if (knownCount.fold(!rejected.isEmpty)(_ > 0))
      rejected.write.mode("append").option("header", "true").csv(path)
}
