"""Corpus-curation catalog entries (operators/curation.py): quality-aware
canonical selection over duplicate clusters, and surgical span redaction
over token-window decontamination output.

Oracle determinism follows the pipeline.py rules: md5 is the shared
deterministic hash; the c13 quality ordering uses the RAW composite
score, which is bit-identical between Spark and DuckDB (same
single-division ratios and literal weights — the invariant t8's quantile
bucketing already rests on), with doc_id as the total-order tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ploverdb_spark.catalog import load, register
from ploverdb_spark.operators import curation as C
from ploverdb_spark.operators import dedup as D
from ploverdb_spark.operators import text as T
from ploverdb_spark.queries.pipeline import _DOUBLED, _TOKENS, _doubled_docs


@register(
    "c13_canonical_selection",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKENS} AS toks FROM documents
    ), s AS (
      SELECT doc_id,
             md5(array_to_string(toks[1:5], ' ')) AS cluster_key,
             0.4 * (len(list_filter(toks, x -> list_contains(
                     ['the','a','of','and','to','in','is','it'], x)))
                    / GREATEST(len(toks), 1))
             + 0.3 * (1.0 - (length(text)
                    - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
                    / GREATEST(length(text), 1))
             + 0.3 * LEAST((length(regexp_replace(text, '\\s+', '', 'g'))
                    / GREATEST(len(toks), 1)) / 10.0, 1.0) AS q
      FROM t
    )
    SELECT doc_id, cluster_key,
           COUNT(*) OVER (PARTITION BY cluster_key) AS cluster_size,
           ROUND(q, 6) AS quality_score,
           doc_id = first_value(doc_id) OVER w AS is_canonical,
           first_value(doc_id) OVER w AS canonical_id
    FROM s
    WINDOW w AS (PARTITION BY cluster_key ORDER BY q DESC, doc_id)
    """,
    doc="Quality-aware canonical selection: cluster documents by a "
    "normalized 5-token-prefix shingle (a SQL-expressible near-dup proxy "
    "— the operator itself takes ANY cluster assignment, e.g. d6's "
    "connected-component ids at corpus scale) and keep the member with "
    "the highest t2 composite quality score, smallest-id tie-break.  One "
    "shuffle on the cluster key; both window frames share it.",
)
def c13_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = T.ws_tokens(F.lower(F.col("text")))
    _pr, _sr, _mtl, q = T._quality_raw(F.col("text"), toks)
    clustered = docs.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice(toks, 1, 5))).alias("cluster_key"),
        q.alias("__q"),
    )
    return (
        C.canonical_selection(
            clustered, group_col="cluster_key", quality_col="__q"
        )
        .select(
            "doc_id",
            "cluster_key",
            "cluster_size",
            F.round(F.col("__q"), 6).alias("quality_score"),
            "is_canonical",
            "canonical_id",
        )
    )


@register(
    "c14_span_redaction",
    oracle=f"""
    WITH docs AS ({_DOUBLED}),
    tk AS (
      SELECT doc_id, {_TOKENS} AS toks FROM docs
    ), win AS (
      SELECT doc_id, unnest(range(1, len(toks) - 13 + 2)) AS pos, toks
      FROM tk WHERE len(toks) >= 13
    ), g AS (
      SELECT doc_id, pos,
             md5(array_to_string(toks[pos:(pos + 12)], ' ')) AS h
      FROM win
    ), bench AS (
      SELECT DISTINCT h FROM g WHERE doc_id % 97 = 0
    ), hits AS (
      SELECT doc_id, pos FROM g
      WHERE doc_id % 97 <> 0 AND h IN (SELECT h FROM bench)
    ), marked AS (
      SELECT doc_id, pos,
             CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                  <= 13 THEN 0 ELSE 1 END AS brk
      FROM hits
    ), grp AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
      FROM marked
    ), spans AS (
      SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 12 AS span_end
      FROM grp GROUP BY doc_id, gid
    ), agg AS (
      SELECT doc_id, COUNT(*) AS n_spans,
             CAST(SUM(span_end - span_start + 1) AS BIGINT)
               AS n_tokens_removed
      FROM spans GROUP BY doc_id
    ), tokpos AS (
      SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, toks
      FROM tk WHERE doc_id IN (SELECT doc_id FROM agg)
    ), kept AS (
      SELECT t.doc_id, t.pos, t.toks[t.pos] AS tok
      FROM tokpos t
      WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.doc_id = t.doc_id
          AND t.pos BETWEEN s.span_start AND s.span_end
      )
    ), red AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS redacted_hash
      FROM kept GROUP BY doc_id
    )
    SELECT a.doc_id, a.n_spans,
           len(tk.toks) AS n_tokens,
           a.n_tokens_removed,
           COALESCE(r.n_kept, 0) AS n_tokens_kept,
           COALESCE(r.redacted_hash, md5('')) AS redacted_hash
    FROM agg a
    JOIN tk USING (doc_id)
    LEFT JOIN red r USING (doc_id)
    """,
    doc="Surgical span redaction (the c12 remediation): excise every "
    "contaminated token span found by token-window decontamination from "
    "the flagged documents, keeping the rest — a verbatim benchmark copy "
    "redacts to the empty document (md5('') sentinel hash).  The sparse "
    "span set aggregates in one small shuffle and broadcasts onto the "
    "corpus; token surgery is pure higher-order column expressions.",
)
def c14_span_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _doubled_docs(spark, sf_dir)
    spans = D.token_window_decontaminate(docs, window=13)
    return C.redact_token_spans(docs, spans)
