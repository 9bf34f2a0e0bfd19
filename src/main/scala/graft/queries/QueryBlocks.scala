package graft.queries

import graft.Tables
import graft.functions.WideDiv.{decSumToDouble, sqlDecSumToDouble}
import graft.text.TextFunctions.{splitBucket, sqlTokenCount, tokenCount}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Building blocks that queries in more than one file share, each Spark
  * form beside its DuckDB oracle twin. It reads no query object, so any
  * query object may use it (even in a fragment above its `registry`)
  * without an initialization cycle.
  */
object QueryBlocks {

  /** Exact money sum: per-row double → DECIMAL(18,6) → associative decimal
    * sum → double result. Scale 6 matters: the harness money columns carry
    * 2 decimals, so row expressions like price·(1−discount) are exact at
    * ≤4 decimals — every double is ~1 ulp from a representable 6dp value,
    * never at a rounding boundary, so Spark's HALF_UP and DuckDB's
    * HALF_EVEN agree. (At scale 2 the 4dp products hit exact .005 ties and
    * the engines round them differently.) */
  def moneySum(c: Column): Column =
    decSumToDouble(sum(c.cast("decimal(18,6)")))

  /** DuckDB oracle twin for [[moneySum]]. */
  def sqlMoneySum(expr: String): String =
    sqlDecSumToDouble(s"sum(CAST($expr AS DECIMAL(18,6)))")

  /** Daily revenue in cents `(day, <x>)` over the bounded day domain
    * (~2.4k rows at every SF — the fixture spans fixed calendar years):
    * order totals in exact cents (the shared money quantization), summed
    * per order day. */
  def dailyRevenue(s: SparkSession, d: String, x: String = "x"): DataFrame =
    Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")).as(x))

  /** DuckDB oracle twin for [[dailyRevenue]]: the query a `daily` CTE wraps. */
  def sqlDailyRevenue(x: String = "x"): String =
    s"""SELECT CAST(o_orderdate AS DATE) AS day,
                  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS $x
           FROM orders GROUP BY 1"""

  /** Distinct (order, part) pairs `(o, p)` of lineitem — the input of
    * every part co-purchase graph. */
  def orderParts(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()

  /** DuckDB oracle twin for [[orderParts]]. */
  val sqlOrderParts: String =
    "SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem"

  /** DuckDB oracle twin of `graft_quantile_sketch(doc_id, n_chars, 256)`
    * per `lang` over the rows of `from`: CTEs `pr`, `s` and `kk` (each
    * group's bottom 256 by md5 priority, ties by doc_id) and
    * `r(lang, n_chars, rn, m)` — each sampled value's 1-based rank in its
    * group's sample of size m, so quantile p reads `rn = (m-1)*p//100 + 1`. */
  def sqlLangLengthSample(from: String): String =
    s"""pr AS (
           SELECT lang, doc_id, n_chars,
                  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)
                    AS BIGINT) AS p
           FROM $from),
         s AS (SELECT lang, n_chars,
                      row_number() OVER (PARTITION BY lang
                                         ORDER BY p, doc_id) AS rk
               FROM pr),
         kk AS (SELECT lang, n_chars FROM s WHERE rk <= 256),
         r AS (SELECT lang, n_chars,
                      row_number() OVER (PARTITION BY lang
                                         ORDER BY n_chars) AS rn,
                      count(*) OVER (PARTITION BY lang) AS m
               FROM kk)"""

  /** Quantiles `ps` (in percent) of each [[sqlLangLengthSample]] group,
    * as BIGINT columns `q<p>`. */
  def sqlSampleQuantiles(ps: Int*): String =
    ps.map(p => s"CAST(max(CASE WHEN rn = (m-1)*$p//100 + 1 THEN n_chars END) AS BIGINT) AS q$p")
      .mkString(",\n")

  /** `<cte>(<cols>, v)`: the embeddings table with each vector as a
    * DOUBLE list `v` (the oracle side of `Tables.embeddings`). */
  def sqlEmbeddings(cte: String = "e", cols: String = "vec_id"): String =
    s"$cte AS (SELECT $cols, embedding::DOUBLE[] AS v FROM embeddings)"

  /** The train split of `docs(doc_id, text)` — content-hash buckets 0–79,
    * leakage-safe — with each document's whitespace token count
    * `n_tokens`: the packer's input. */
  def trainTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        splitBucket(md5(col("text"))).as("bucket"))
      .where(col("bucket") < 80)
      .drop("bucket")

  /** DuckDB oracle twin for [[trainTokens]] over the table or CTE `from`:
    * CTEs `base` and `tr(doc_id, n_tokens)`. */
  def sqlTrainTokens(from: String): String =
    s"""base AS (
           SELECT doc_id,
                  CAST(${sqlTokenCount("text")} AS BIGINT) AS n_tokens,
                  CAST('0x' || substr(md5(md5(text)), 1, 4) AS BIGINT) % 100
                    AS bucket
           FROM $from),
         tr AS (SELECT doc_id, n_tokens FROM base WHERE bucket < 80)"""

  /** Epoch `e`'s training manifest over `base(doc_id, n_tokens)`: the
    * deterministic epoch shuffle order (md5 key ++ zero-padded id — a
    * total order, replayable on any executor count), 512-token bins, and
    * per bin its doc count, token mass and the md5 of its doc_id
    * sequence in pack order. */
  def epochManifest(base: DataFrame, e: Long): DataFrame = {
    val keyed = base.withColumn("okey",
      concat(md5(concat(lit(s"epoch$e:"), col("doc_id").cast("string"))),
        lpad(col("doc_id").cast("string"), 12, "0")))
    graft.operators.Packing.packByBudget(keyed, col("okey"),
        col("n_tokens"), budget = 512L)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("okey"), col("doc_id")))),
          x => x.getField("doc_id").cast("string")), ","))
          .as("manifest_md5"))
  }
}
