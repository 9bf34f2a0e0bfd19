package graft.queries

import graft.Tables
import graft.queries.QueryBlocks.{epochManifest, sqlTrainTokens, trainTokens}
import graft.text.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The flagship composition row: the reference's whole pipeline identity
  * (ingest → convert → filter → sample/write, reference main.py:40-180)
  * extended with the training-data stages this engine adds, chained as ONE
  * oracle-gated query. Every stage below is individually gated elsewhere
  * (q_filter_*, q_dedup_exact, q_text_packing, q_text_epoch_manifest);
  * this row proves the COMPOSITION — operators feeding each other — which
  * no per-stage row exercises.
  */
object PipelineQueries {

  val registry: Seq[Q] = Seq(

    // documents → DSL filter → exact dedup (keep-first) → leakage-safe
    // split → deterministic epoch shuffle → 512-token packing → manifest.
    //
    // Stage shapes (the 100 TB plan): the DSL predicate compiles to Column
    // algebra and pushes into the parquet scan; exact dedup is one
    // fingerprint groupBy + one id equi-join (both hash exchanges on keys
    // with full parallelism); split/shuffle keys are md5-derived (layout-
    // independent, no RNG state); packing is the distributed two-phase
    // prefix sum (range partition + per-partition offsets — no global
    // window); the manifest aggregate is one hash exchange on bin. Nothing
    // in the chain collects to the driver or sorts globally.
    Q("q_pipeline_end_to_end", (s, d) => {
      // convert: the fixture IS the converted table (TSV→typed conversion
      // is gated by S6-S8 rows); project the pipeline's working columns
      val raw = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      // filter: through the reference's JSON predicate DSL, not a
      // hand-written Column — the composition uses the same entry point
      // a reference user would
      val pred = graft.dsl.FilterDsl.toColumn(
        """{"lang": ["en", "de"],
            "n_chars": {"op": "between", "min": 100, "max": 5000}}""",
        raw.columns.toSeq)
      val filtered = raw.where(pred)
      // exact dedup, keep-first: canonical md5 fingerprint groups → min
      // doc_id survives; rejoin on the surviving ids
      val keep = graft.dedup.Dedup
        .exactGroups(filtered, col("doc_id"), col("text"))
        .select(col("keep_id").as("doc_id"))
      val deduped = filtered.join(keep, Seq("doc_id"))
      // leakage-safe split on the CONTENT hash (train = buckets 0-79) +
      // whitespace token mass, then the epoch-0 shuffle order, 512-token
      // bins and the per-bin manifest a trainer consumes
      epochManifest(trainTokens(deduped), 0L)
        .orderBy("bin")
    },
      // full-chain replay: filter → fingerprint dedup → split → epoch key →
      // running-window packing → manifest, stage for stage
      s"""WITH f AS (
           SELECT doc_id, text FROM documents
           WHERE lang IN ('en', 'de') AND n_chars BETWEEN 100 AND 5000),
         n AS (SELECT doc_id, text,
                      md5(${TextFunctions.sqlNormalized("text")})
                        AS fp
               FROM f),
         keep AS (SELECT min(doc_id) AS doc_id FROM n GROUP BY fp),
         ded AS (SELECT n.doc_id, n.text FROM n JOIN keep USING (doc_id)),
         ${sqlTrainTokens("ded")},
         k AS (
           SELECT doc_id, n_tokens,
                  md5('epoch0:' || CAST(doc_id AS VARCHAR)) ||
                    lpad(CAST(doc_id AS VARCHAR), 12, '0') AS okey
           FROM tr),
         p AS (
           SELECT doc_id, n_tokens, okey,
                  coalesce(sum(n_tokens) OVER
                    (ORDER BY okey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS pfx
           FROM k),
         b AS (SELECT doc_id, n_tokens, okey,
                      CAST(pfx // 512 AS BIGINT) AS bin FROM p)
         SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY okey))
                  AS manifest_md5
         FROM b GROUP BY 1 ORDER BY bin""")
  )
}
