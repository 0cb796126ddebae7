package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.SortedCollect

/** SQL surface for ALL of graft's native expressions and aggregates.
  *
  * Two registration paths:
  *  - `GraftFunctions.register(spark)` on a live session (temp functions)
  *  - `.withExtensions(new GraftExtensions)` at session build time —
  *    the SparkSessionExtensions route a cluster deployment would use.
  *
  * SQL:
  * {{{
  * SELECT minhash_tokens(split(text, ' '), 3, 64)       -- array<long>
  * SELECT shingle_tokens(split(text, ' '), 3)           -- array<string>
  * SELECT simhash_tokens(split(text, ' '))              -- 64-bit fingerprint
  * SELECT text_stats(text, array('the', 'a')).n_tokens  -- one-pass stats
  * SELECT rolling_fingerprint(text, 16).fp_min          -- Rabin–Karp summary
  * SELECT vec_dot(a, b)                                 -- array<double> dot
 * SELECT repetition_stats(text).top_bigram             -- one-pass rep ratios
 * SELECT int8_quant_stats(vec).max_abs_err             -- quantization stats
  * SELECT hyperplane_signature(vec, 16)                 -- LSH bucket
  * SELECT minhash_union(sig, 64) ... GROUP BY src       -- sketch-union agg
  * SELECT top_k_pairs(struct(val, id), 5) ... GROUP BY g  -- bounded top-k agg
  * SELECT bottom_k_ids(struct(key, id), 5) ... GROUP BY g -- hash-rank sample agg
  * }}}
  * Aggregate builders return the bare `AggregateFunction`; the
  * analyzer wraps it in an AggregateExpression (same contract as the
  * built-in registry).
  *
  * Besides the functions, `GraftExtensions` injects the graft SQL
  * parser and table functions ([[GraftSql]]), the metadata-tier
  * optimizer rules [[MetadataOnlyAgg]] and [[MetadataTopK]],
  * [[InsertIntoTableLogRule]], and the AQE query-stage preparation
  * rule [[org.apache.spark.sql.graftbridge.SortedCollect]] (a
  * collected root ORDER BY without its range shuffle).
  */
object GraftFunctions {

  private def asInt(e: Expression): Int = {
    // Thrown from the function builder, so it surfaces at analysis time.
    if (!e.foldable)
      throw new IllegalArgumentException(
        "graft function k/numPerms arguments must be integer literals")
    e.eval().asInstanceOf[Number].intValue
  }

  private def asStrings(e: Expression): Seq[String] = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        "graft function stopword arguments must be a string array literal")
    val v = e.eval()
    if (v == null)
      throw new IllegalArgumentException(
        "graft function stopword arguments must not be a null literal")
    v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toArray[org.apache.spark.unsafe.types.UTF8String](
        org.apache.spark.sql.types.StringType)
      .map(_.toString).toSeq
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "minhash_tokens" -> (es => MinHashTokens(es(0), asInt(es(1)), asInt(es(2)))),
    "shingle_tokens" -> (es => ShingleTokens(es(0), asInt(es(1)))),
    "simhash_tokens" -> (es => SimHashTokens(es(0))),
    "text_stats" -> (es => TextStats(es(0), asStrings(es(1)))),
    "lex_token_count" -> (es => LexTokenCount(es(0))),
    "rolling_fingerprint" -> (es => RollingFingerprint(es(0), asInt(es(1)))),
    "vec_dot" -> (es => VecDot(es(0), es(1))),
    "repetition_stats" -> (es => RepetitionStats(es(0))),
    "int8_quant_stats" -> (es => Int8QuantStats(es(0))),
    "hyperplane_signature" -> (es => HyperplaneSignature(es(0), asInt(es(1)))),
    "minhash_union" -> (es => MinHashUnion(es(0), asInt(es(1)))),
    "vec_sum" -> (es => VecSum(es(0))),
    "top_k_pairs" -> (es => TopKPairs(es(0), asInt(es(1)))),
    "bottom_k_ids" -> (es => BottomKIds(es(0), asInt(es(1)))),
    "hll_registers" -> (es => HllRegisters(es(0), asInt(es(1)))),
    "bottom_k_by_score" -> (es => BottomKByScore(es(0), asInt(es(1)))),
    // PqCodes is NOT here: its codebook is constructor data (arrays of
    // doubles collected at plan time), which SQL literals can't carry
    "pq_adc" -> (es => PqAdc(es(0), es(1))),
    "char_stats" -> (es => CharStats(es(0))))

  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, b) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, b, "built-in")
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, b) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.plans." + name, name), b))
    }
    // the SQL-text face of the table format: graft statements
    // (DESCRIBE HISTORY / OPTIMIZE / DELETE WHERE / MERGE INTO /
    // RESTORE) short-circuit in a delegating parser, and
    // graft_table(...)/graft_table_at(...) serve reads with time
    // travel as table-valued functions — see [[GraftSql]]
    e.injectParser((_, delegate) => new GraftSqlParser(delegate))
    GraftSql.tableFunctions.foreach { case (name, b) =>
      e.injectTableFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.plans.GraftSql", name), b))
    }
    // the metadata-tier optimizer rules ride the extension too — the
    // one channel that registers them — so every session, pure SQL
    // included, gets zero-scan aggregates and top-k file pruning on
    // TableLog reads; both rules are soundness-gated on
    // TableLogFileIndex relations and no-op everywhere else
    e.injectOptimizerRule(_ => MetadataOnlyAgg)
    e.injectOptimizerRule(_ => MetadataTopK)
    // catalog-named tables: INSERT INTO/OVERWRITE on a `USING
    // tablelog` table must commit through the log — without this
    // rule Spark's raw V1 file-write path drops unlogged parquet
    // into the table dir (invisible to every snapshot read)
    e.injectPostHocResolutionRule(s => InsertIntoTableLogRule(s))
    // a collected root ORDER BY sorts per partition and merges on the
    // driver: one job instead of a range exchange's three (AQE only;
    // every non-collect consumer still range-shuffles) — see
    // [[org.apache.spark.sql.graftbridge.SortedCollectExec]]
    e.injectQueryStagePrepRule(_ => SortedCollect)
  }
}
