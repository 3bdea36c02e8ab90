package graft.operators

import graft.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Drupal vancode generation with full thread-path composition — the Spark
  * form of generators/DrupalVanCodeGenerator.scala (sibling numbering at
  * :100-120, parent-path build `getparentcode` at :130, base-36 render
  * `toBase36` at :142).
  *
  * Reference semantics, reproduced exactly:
  *   - top-level comments (parent = 0) number 1, 2, … per article;
  *     replies number 0, 1, … per (article, parent) — both in comment-id
  *     (arrival) order;
  *   - a segment renders as lowercase base-36 prefixed with its digit
  *     count - 1 ("01", "02", …, "110" for 36);
  *   - the full vancode is the ancestor segments NEAREST-PARENT-FIRST
  *     joined with '.', then the comment's own segment, then '/'
  *     (getparentcode appends while walking child → root):
  *     comment 2 replying to comment 1 in article 1 → "01.00/".
  *
  * Scale shape: the reference walks a driver-side mutable map; here sibling
  * numbers are one window over (article, parent) — every partition bounded
  * by a thread's fan-out — and ancestor paths build by POINTER DOUBLING:
  * after k self-joins every row knows its first 2^k ancestor segments, so a
  * depth-d thread needs ceil(log2(d)) joins, not d. Each join is an equi-
  * join on the current 2^k-th ancestor id (broadcast- or hash-partitioned
  * by Catalyst), so composing paths over a 100 TB comment corpus is a
  * handful of bounded shuffles.
  */
object VanCode {

  /** Append `outCol` holding each comment's full vancode.
    *
    * @param df        comments; one row per comment
    * @param idCol     comment id (unique, arrival-ordered)
    * @param articleCol article/thread id
    * @param parentCol parent comment id; 0 (or null) = top-level
    * @param maxDepth  maximum supported thread depth (log2 join rounds)
    */
  def withVanCodes(df: DataFrame, idCol: String, articleCol: String,
                   parentCol: String, outCol: String = "vancode",
                   maxDepth: Int = 64): DataFrame = {
    val seg = {
      // top-level threads count from 1, replies from 0 (reference :100-118)
      val w = Window.partitionBy(col(articleCol), col("__parent"))
        .orderBy(col(idCol))
      val n = row_number().over(w) -
        when(col("__parent") === 0L, lit(0)).otherwise(lit(1))
      graft.functions.Transformers.vancodeSegment(n)
    }
    val base = df
      .withColumn("__parent", coalesce(col(parentCol).cast("long"), lit(0L)))
      .withColumn("__seg", seg)

    // pointer doubling: (__anc = first-2^k-ancestor segments nearest-first
    // with trailing dots, __jump = 2^k-th ancestor id or 0). Every round
    // references the previous state TWICE (as itself and as its own hop
    // table), so like Dedup.components the per-round state is
    // localCheckpoint-materialized — otherwise the plan doubles per round
    // and the sibling window recomputes in every leaf.
    var cur = base.select(col(idCol).as("__id"), col("__seg"),
      lit("").as("__anc"), col("__parent").as("__jump"))
      .localCheckpoint()
    val rounds = math.max(1, 32 - Integer.numberOfLeadingZeros(math.max(1, maxDepth - 1)))
    for (_ <- 1 to rounds) {
      val hop = cur.select(col("__id").as("__hid"), col("__seg").as("__hseg"),
        col("__anc").as("__hanc"), col("__jump").as("__hjump"))
      val prev = cur
      cur = cur.join(hop, col("__jump") === col("__hid"), "left")
        .select(col("__id"), col("__seg"),
          when(col("__jump") === 0L, col("__anc"))
            .otherwise(concat(col("__anc"), concat(col("__hseg"), lit(".")), col("__hanc")))
            .as("__anc"),
          when(col("__jump") === 0L, lit(0L))
            .otherwise(coalesce(col("__hjump"), lit(0L))).as("__jump"))
        .localCheckpoint()
      Checkpoints.release(prev)
    }
    val codes = cur.select(col("__id"),
      concat(col("__anc"), col("__seg"), lit("/")).as(outCol))
    base.join(codes, base(idCol) === codes("__id"))
      .drop("__id", "__parent", "__seg")
  }
}
