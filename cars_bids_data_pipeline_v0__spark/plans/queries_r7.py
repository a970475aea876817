"""Round-7 query batch (q226–q241).

Three sub-families:

* **ACID/DML under the value-hash gate** — q226 (Change Data Feed),
  q228 (CDF-driven incremental matview), q229 (MERGE INTO: update +
  delete + insert clauses), q230 (deletion-vector DELETE read back
  merge-on-read), q231 (copy-on-write UPDATE), q241 (row-tracked CDF
  with update_preimage/postimage pairing).  Each uses an idempotent,
  content-fingerprinted scratch-table builder (`_scratch_path` +
  version-guarded steps + txn-fenced appends) so driver re-runs and
  regenerated corpora behave.
* **Retrieval** — q227 hybrid Reciprocal Rank Fusion (sparse keyword
  arm + dense cosine arm; Cormack et al. 2009), ranks assigned with
  distributed top-N + the bounded single-range assigner, never a
  global window.
* **Analytics** — q232 Theil index, q233 Zipf's-law fit, q234
  gaps-and-islands streaks, q235 value-domain-collapsed weighted
  median (the scale path of q114), q236 supplier HHI, q237 RFM
  quintile segmentation, q238 association rules, q239 new-vs-returning
  split, q240 log-log price elasticity.

Reference parity: none (the reference has neither a transaction log nor
a retrieval/statistics surface); these extend the engine's ACID,
similarity and analytics families.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import functions as F

from .queries import _t, register

# ---------------------------------------------------------------------------
# q226 — Change Data Feed over a txlog table built from orders
# ---------------------------------------------------------------------------

_Q226_DELETE_MOD = 10  # delete o_orderkey % 10 == 3 (cuts across partitions)


def _q226_table_path(sf_dir: str) -> str:
    """Content-fingerprinted scratch table (the q223 discipline): the key
    hashes every orders file's (relpath, size, mtime_ns), so a
    regenerated corpus rebuilds instead of replaying against stale
    commits."""
    h = hashlib.md5(os.path.abspath(sf_dir).encode())
    root = os.path.join(sf_dir, "orders.parquet")
    entries = []
    if os.path.isdir(root):
        for dirpath, _dirs, files in os.walk(root):
            for name in files:
                fp = os.path.join(dirpath, name)
                st = os.stat(fp)
                entries.append(
                    (os.path.relpath(fp, root), st.st_size, st.st_mtime_ns)
                )
    elif os.path.exists(root):
        st = os.stat(root)
        entries.append((os.path.basename(root), st.st_size, st.st_mtime_ns))
    for entry in sorted(entries):
        h.update(repr(entry).encode())
    return os.path.join(
        tempfile.gettempdir(), f"spark_graft_q226_{h.hexdigest()[:12]}"
    )


def _q226_oracle() -> str:
    return f"""
    WITH expected AS (
        SELECT 0 AS commit_version, 'append' AS commit_op,
               'insert' AS change_type,
               count(*) AS n_rows,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT 1, 'append', 'insert', count(*), round(sum(o_totalprice), 2)
        FROM orders WHERE o_orderkey % 2 = 1
        UNION ALL
        SELECT 2, 'delete', 'delete', count(*), round(sum(o_totalprice), 2)
        FROM orders WHERE o_orderkey % {_Q226_DELETE_MOD} = 3
    )
    SELECT * FROM expected ORDER BY commit_version, change_type
    """


def _q226_build(spark, sf_dir) -> str:
    """Idempotent 3-commit builder (v0 append evens, v1 append odds, v2
    cross-partition delete): each step is guarded by the version the
    PREVIOUS step committed, so a crashed builder resumes, a finished
    builder no-ops, and the appends are additionally txn-fenced.
    Shared by q226 (the CDF itself) and q228 (incremental matview)."""
    from ..sources.txlog import (
        TransactionLog,
        tx_append_partitioned,
        tx_delete_where,
    )

    orders = _t(spark, sf_dir, "orders")
    path = _q226_table_path(sf_dir)
    log = TransactionLog(path)
    if log.version() < 0:
        tx_append_partitioned(
            spark,
            orders.filter(F.col("o_orderkey") % 2 == 0),
            path,
            partition_by="o_orderpriority",
            txn={"app": "q226", "batch": 0},
        )
    if log.version() < 1:
        tx_append_partitioned(
            spark,
            orders.filter(F.col("o_orderkey") % 2 == 1),
            path,
            partition_by="o_orderpriority",
            txn={"app": "q226", "batch": 1},
        )
    if log.version() < 2:
        tx_delete_where(spark, path, f"o_orderkey % {_Q226_DELETE_MOD} = 3")
    return path


@register(
    "q226_tx_change_feed",
    _q226_oracle(),
    doc=(
        "Change Data Feed under the value-hash gate: the builder commits "
        "orders into a txlog table as two fenced appends (even / odd "
        "order keys, partitioned by priority) plus one copy-on-write "
        "DELETE that cuts ACROSS partitions (o_orderkey % 10 = 3, so "
        "every touched file is rewritten, not dropped), then "
        "tx_changes() reconstructs per-version inserts/deletes from the "
        "commit log's own file actions — removed exceptAll added — and "
        "the summary (rows + total price per version/op/type) must equal "
        "DuckDB's re-derivation from the raw table.  Scale: each "
        "version's reconstruction touches only that version's files; "
        "append history is pure scan, the delete's exceptAll shuffles "
        "are delta-sized (sources/txlog.py::tx_changes)"
    ),
)
def q226(spark, sf_dir):
    from ..sources.txlog import tx_changes

    path = _q226_build(spark, sf_dir)
    ch = tx_changes(spark, path)
    return (
        ch.groupBy(
            F.col("_commit_version").cast("int").alias("commit_version"),
            F.col("_commit_op").alias("commit_op"),
            F.col("_change_type").alias("change_type"),
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("commit_version", "change_type")
    )


# ---------------------------------------------------------------------------
# q227 — hybrid retrieval: sparse keyword arm + dense cosine arm, RRF-fused
# ---------------------------------------------------------------------------

_Q227_TERMS = ("merge", "window", "stream")  # sparse query keywords
_Q227_QVEC = 0       # dense query: embedding of vec_id 0
_Q227_ARM_N = 20     # per-arm candidate depth
_Q227_RRF_K = 60     # the standard RRF dampening constant
_Q227_TOPN = 10


def _q227_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _Q227_TERMS)
    return f"""
    WITH sparse_scored AS (
        SELECT doc_id AS id,
               len(list_filter(string_split_regex(lower(text), '\\s+'),
                               t -> t IN ({terms}))) AS hits
        FROM documents
    ), sparse AS (
        SELECT id, row_number() OVER (ORDER BY hits DESC, id) AS srank
        FROM sparse_scored QUALIFY srank <= {_Q227_ARM_N}
    ), base AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ), qv AS (
        SELECT v AS q FROM base WHERE id = {_Q227_QVEC}
    ), dense_scored AS (
        SELECT b.id,
               round(list_dot_product(b.v, qv.q)
                     / (sqrt(list_dot_product(b.v, b.v))
                        * sqrt(list_dot_product(qv.q, qv.q))), 6) AS cos
        FROM base b, qv WHERE b.id <> {_Q227_QVEC}
    ), dense AS (
        SELECT id, row_number() OVER (ORDER BY cos DESC, id) AS drank
        FROM dense_scored QUALIFY drank <= {_Q227_ARM_N}
    ), fused AS (
        SELECT coalesce(s.id, d.id) AS id,
               s.srank AS sparse_rank,
               d.drank AS dense_rank,
               round(coalesce(1.0 / ({_Q227_RRF_K} + s.srank), 0)
                     + coalesce(1.0 / ({_Q227_RRF_K} + d.drank), 0), 6)
                   AS rrf_score
        FROM sparse s FULL OUTER JOIN dense d ON s.id = d.id
    )
    SELECT id, sparse_rank, dense_rank, rrf_score,
           row_number() OVER (ORDER BY rrf_score DESC, id) AS final_rank
    FROM fused QUALIFY final_rank <= {_Q227_TOPN}
    ORDER BY final_rank
    """


@register(
    "q227_hybrid_rrf",
    _q227_oracle(),
    doc=(
        "Hybrid first-stage retrieval with Reciprocal Rank Fusion: a "
        "sparse arm (whole-token keyword hits over documents) and a "
        "dense arm (cosine vs a query embedding, the q187 broadcast "
        "shape) each produce a top-20 ranking; RRF fuses them as "
        "sum(1/(60+rank)) over the arms a document appears in — rank "
        "fusion needs no score calibration between arms, which is why "
        "it is the standard BM25+vector combiner.  Scale: each arm is "
        "one corpus scan (the dense arm broadcasts ONE query vector); "
        "the fusion join is over 2xN candidate rows, trivially "
        "broadcast; integer ranks make the fused scores exactly "
        "reproducible across engines"
    ),
)
def q227(spark, sf_dir):
    # ranking discipline: NO global windows anywhere (the registry-wide
    # plan audit).  Each arm takes its top-N with a distributed
    # orderBy+limit (TakeOrderedAndProject — parallel partial top-N,
    # driver-merged), then assigns rank numbers on the N surviving rows
    # with the range-partitioned assigner's bounded single-range path.
    from ..operators.keys import with_surrogate_key
    from ..operators.similarity import as_double, cosine

    def ranked_topn(scored, neg_col, rank_col, n):
        top = scored.orderBy(neg_col, "id").limit(n)
        return with_surrogate_key(
            top, [neg_col, "id"], id_col=rank_col, num_partitions=1
        )

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), r"\s+")
    sparse_scored = docs.select(
        F.col("doc_id").alias("id"),
        (
            -F.size(F.filter(toks, lambda t: t.isin(*_Q227_TERMS)))
        ).alias("neg_hits"),
    )
    sparse = ranked_topn(sparse_scored, "neg_hits", "srank", _Q227_ARM_N)

    base = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), as_double("embedding").alias("v")
    )
    qv = base.filter(F.col("id") == _Q227_QVEC).select(
        F.col("v").alias("q")
    )
    dense_scored = (
        base.filter(F.col("id") != _Q227_QVEC)
        .crossJoin(F.broadcast(qv))
        .select(
            "id",
            (-F.round(cosine(F.col("v"), F.col("q")), 6)).alias("neg_cos"),
        )
    )
    dense = ranked_topn(dense_scored, "neg_cos", "drank", _Q227_ARM_N)

    fused = (
        sparse.select("id", "srank")
        .join(dense.select("id", "drank"), "id", "full_outer")
        .select(
            "id",
            F.col("srank").alias("sparse_rank"),
            F.col("drank").alias("dense_rank"),
            F.round(
                F.coalesce(1.0 / (_Q227_RRF_K + F.col("srank")), F.lit(0.0))
                + F.coalesce(
                    1.0 / (_Q227_RRF_K + F.col("drank")), F.lit(0.0)
                ),
                6,
            ).alias("rrf_score"),
        )
        .withColumn("neg_rrf", -F.col("rrf_score"))
    )
    return (
        ranked_topn(fused, "neg_rrf", "final_rank", _Q227_TOPN)
        .select(
            "id", "sparse_rank", "dense_rank", "rrf_score", "final_rank"
        )
        .orderBy("final_rank")
    )


# ---------------------------------------------------------------------------
# q228 — incremental materialized view maintained FROM the change feed
# ---------------------------------------------------------------------------


def _q228_oracle() -> str:
    return f"""
    SELECT o_orderpriority,
           count(*) AS n_rows,
           round(sum(o_totalprice), 2) AS total_price,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price,
           round(avg(o_totalprice), 6) AS avg_price
    FROM orders
    WHERE o_orderkey % {_Q226_DELETE_MOD} <> 3
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """


@register(
    "q228_incremental_matview_cdf",
    _q228_oracle(),
    doc=(
        "Incremental view maintenance driven by the Change Data Feed "
        "(operators/matview.py::matview_apply_changes): the view's "
        "partials are maintained commit-by-commit from tx_changes — "
        "the append versions fold in as insert partials, the DELETE "
        "version folds SIGNED (subtractable count/sum, delta-sized "
        "shuffle) with min/max repaired by a touched-groups-only "
        "recompute from the snapshot — and the final view must equal "
        "DuckDB's from-scratch aggregate over the surviving rows.  "
        "This is the 100 TB answer to reference "
        "load_lambda/main.py:60-108's recompute-the-warehouse-per-"
        "batch: history is never re-scanned, each refresh costs the "
        "delta plus the deleted groups"
    ),
)
def q228(spark, sf_dir):
    from ..operators.matview import (
        matview_apply_changes,
        matview_finalize,
        matview_partials,
    )
    from ..sources.txlog import tx_changes, tx_read

    path = _q226_build(spark, sf_dir)
    keys = ["o_orderpriority"]
    measures = {"o_totalprice": ("sum", "cnt", "min", "max", "avg")}

    # v0: bootstrap the view from the first commit's inserts
    view = matview_partials(
        tx_changes(spark, path, since=-1, upto=0).drop(
            "_change_type", "_commit_version", "_commit_op"
        ),
        keys,
        measures,
    )
    # v1: insert-only delta — no base needed
    view = matview_apply_changes(
        view, tx_changes(spark, path, since=0, upto=1), keys, measures
    )
    # v2: the delete — signed fold + touched-group min/max repair
    view = matview_apply_changes(
        view,
        tx_changes(spark, path, since=1, upto=2),
        keys,
        measures,
        base=tx_read(spark, path),
    )
    return (
        matview_finalize(view, avg_of=["o_totalprice"])
        .select(
            "o_orderpriority",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.round(F.col("sum_o_totalprice"), 2).alias("total_price"),
            F.col("min_o_totalprice").alias("min_price"),
            F.col("max_o_totalprice").alias("max_price"),
            F.round(F.col("avg_o_totalprice"), 6).alias("avg_price"),
        )
        .orderBy("o_orderpriority")
    )


# ===========================================================================
# Round-7 DML family: the new row-level writers under the value-hash gate
# ===========================================================================


def _scratch_path(sf_dir: str, tag: str, table: str) -> str:
    """Content-fingerprinted scratch table path (the q223/q226
    discipline, parameterized): the key hashes every source file's
    (relpath, size, mtime_ns), so a regenerated corpus rebuilds instead
    of replaying against stale commits."""
    h = hashlib.md5((os.path.abspath(sf_dir) + "|" + tag).encode())
    root = os.path.join(sf_dir, f"{table}.parquet")
    entries = []
    if os.path.isdir(root):
        for dirpath, _dirs, files in os.walk(root):
            for name in files:
                fp = os.path.join(dirpath, name)
                st = os.stat(fp)
                entries.append(
                    (os.path.relpath(fp, root), st.st_size, st.st_mtime_ns)
                )
    elif os.path.exists(root):
        st = os.stat(root)
        entries.append((os.path.basename(root), st.st_size, st.st_mtime_ns))
    for entry in sorted(entries):
        h.update(repr(entry).encode())
    return os.path.join(
        tempfile.gettempdir(), f"spark_graft_{tag}_{h.hexdigest()[:12]}"
    )


# ---------------------------------------------------------------------------
# q229 — MERGE INTO: update + delete + insert clauses, audited end-state
# ---------------------------------------------------------------------------


def _q229_oracle() -> str:
    return """
    WITH final AS (
        SELECT o_orderpriority,
               CASE WHEN o_orderkey % 8 = 0
                    THEN o_totalprice + 1000 ELSE o_totalprice END AS p
        FROM orders
        WHERE o_orderkey % 4 = 0
          AND NOT (o_orderkey % 8 = 0 AND o_orderpriority = '1-URGENT')
        UNION ALL
        SELECT o_orderpriority, o_totalprice + 1000
        FROM orders WHERE o_orderkey % 8 = 1
    )
    SELECT o_orderpriority,
           count(*) AS n_rows,
           round(sum(p), 2) AS total_price
    FROM final GROUP BY o_orderpriority ORDER BY o_orderpriority
    """


@register(
    "q229_merge_into_audit",
    _q229_oracle(),
    doc=(
        "MERGE INTO under the value-hash gate: the builder appends "
        "orders with o_orderkey %% 4 = 0 into a priority-partitioned "
        "txlog table, then merges a source of %% 8 IN (0, 1) rows "
        "carrying price+1000 — matched URGENT rows DELETE, other "
        "matches UPDATE to the source price, unmatched rows INSERT — "
        "and the final per-priority (count, total) must equal DuckDB's "
        "CASE-derived end state.  The hash therefore covers the "
        "cardinality probe, first-clause-wins ordering, both-side t./s. "
        "expression resolution, and the single atomic add+remove "
        "(sources/txlog.py::tx_merge_into).  Scale: affected-file "
        "discovery is one semi-join scan; only files containing matches "
        "are rewritten"
    ),
)
def q229(spark, sf_dir):
    from ..sources.txlog import TransactionLog, tx_append_partitioned, \
        tx_merge_into, tx_read

    orders = _t(spark, sf_dir, "orders")
    path = _scratch_path(sf_dir, "q229", "orders")
    log = TransactionLog(path)
    if log.version() < 0:
        tx_append_partitioned(
            spark,
            orders.filter(F.col("o_orderkey") % 4 == 0),
            path,
            partition_by="o_orderpriority",
            txn={"app": "q229", "batch": 0},
        )
    if log.version() < 1:
        source = orders.filter(
            (F.col("o_orderkey") % 8).isin(0, 1)
        ).withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1000.0))
        tx_merge_into(
            spark, path, source, on=["o_orderkey"],
            when_matched_update={"o_totalprice": "s.o_totalprice"},
            when_matched_delete="t.o_orderpriority = '1-URGENT'",
            when_not_matched_insert=True,
        )
    return (
        tx_read(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q230 — deletion-vector DELETE: merge-on-read parity
# ---------------------------------------------------------------------------


def _q230_oracle() -> str:
    return """
    SELECT l_returnflag,
           count(*) AS n_rows,
           round(sum(l_extendedprice), 2) AS revenue,
           round(sum(l_quantity), 2) AS total_qty
    FROM lineitem
    WHERE l_orderkey % 3 = 0
      AND NOT (l_discount > 0.05 AND l_quantity < 25)
    GROUP BY l_returnflag ORDER BY l_returnflag
    """


@register(
    "q230_dv_delete_parity",
    _q230_oracle(),
    doc=(
        "Deletion-vector DELETE under the value-hash gate: the builder "
        "appends lineitem (l_orderkey %% 3 = 0) into a returnflag-"
        "partitioned txlog table, then deletes l_discount > 0.05 AND "
        "l_quantity < 25 with mode='dv' — NO data file is rewritten; "
        "the commit is per-file row-index vectors plus metadata — and "
        "the per-flag (count, revenue, quantity) read back through the "
        "merge-on-read path must equal DuckDB's filtered aggregate.  "
        "The hash covers the visible-hit discovery, DV staging/union, "
        "and tx_read's broadcast _metadata.row_index anti-join "
        "(sources/txlog.py::tx_delete_where mode='dv', _scan)."
        "  Scale: delete cost is KBs of DV, not a rewrite; the read "
        "overhead is a broadcast hash probe inside the scan stage"
    ),
)
def q230(spark, sf_dir):
    from ..sources.txlog import TransactionLog, tx_append_partitioned, \
        tx_delete_where, tx_read

    li = _t(spark, sf_dir, "lineitem")
    path = _scratch_path(sf_dir, "q230", "lineitem")
    log = TransactionLog(path)
    if log.version() < 0:
        tx_append_partitioned(
            spark,
            li.filter(F.col("l_orderkey") % 3 == 0),
            path,
            partition_by="l_returnflag",
            txn={"app": "q230", "batch": 0},
        )
    if log.version() < 1:
        tx_delete_where(
            spark, path,
            "l_discount > 0.05 AND l_quantity < 25",
            mode="dv",
        )
    return (
        tx_read(spark, path)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# q231 — copy-on-write UPDATE, audited end-state
# ---------------------------------------------------------------------------


def _q231_oracle() -> str:
    return """
    WITH updated AS (
        SELECT c_mktsegment,
               CASE WHEN c_acctbal < 0
                    THEN c_acctbal * 0.9 + 10 ELSE c_acctbal END AS bal
        FROM customer
    )
    SELECT c_mktsegment,
           count(*) AS n_customers,
           round(sum(bal), 2) AS total_balance,
           CAST(count(*) FILTER (WHERE bal < 0) AS BIGINT) AS n_still_negative
    FROM updated GROUP BY c_mktsegment ORDER BY c_mktsegment
    """


@register(
    "q231_update_where_audit",
    _q231_oracle(),
    doc=(
        "Row-level UPDATE under the value-hash gate: the builder "
        "appends customer into a segment-partitioned txlog table, then "
        "runs UPDATE SET c_acctbal = c_acctbal * 0.9 + 10 WHERE "
        "c_acctbal < 0 — copy-on-write, only files containing negative "
        "balances rewritten — and the per-segment (count, total, "
        "still-negative count) must equal DuckDB's CASE projection.  "
        "The hash covers simultaneous-SET evaluation against the "
        "pre-update row and type-preserving casts "
        "(sources/txlog.py::tx_update_where)"
    ),
)
def q231(spark, sf_dir):
    from ..sources.txlog import TransactionLog, tx_append_partitioned, \
        tx_read, tx_update_where

    cust = _t(spark, sf_dir, "customer")
    path = _scratch_path(sf_dir, "q231", "customer")
    log = TransactionLog(path)
    if log.version() < 0:
        tx_append_partitioned(
            spark, cust, path,
            partition_by="c_mktsegment",
            txn={"app": "q231", "batch": 0},
        )
    if log.version() < 1:
        tx_update_where(
            spark, path,
            {"c_acctbal": "c_acctbal * 0.9 + 10"},
            "c_acctbal < 0",
        )
    return (
        tx_read(spark, path)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
            F.count_if(F.col("c_acctbal") < 0)
            .cast("long")
            .alias("n_still_negative"),
        )
        .orderBy("c_mktsegment")
    )


# ===========================================================================
# Round-7 analytics family
# ===========================================================================


@register(
    "q232_theil_index",
    """
    WITH per_cust AS (
        SELECT o_custkey, sum(o_totalprice) AS rev
        FROM orders GROUP BY o_custkey
    ), tagged AS (
        SELECT c.c_nationkey AS nationkey, p.rev
        FROM per_cust p JOIN customer c ON c.c_custkey = p.o_custkey
    ), mu AS (
        SELECT nationkey, count(*) AS n, avg(rev) AS mean_rev
        FROM tagged GROUP BY nationkey
    )
    SELECT t.nationkey,
           CAST(any_value(m.n) AS BIGINT) AS n_customers,
           round(avg((t.rev / m.mean_rev) * ln(t.rev / m.mean_rev)), 6)
               AS theil
    FROM tagged t JOIN mu m ON m.nationkey = t.nationkey
    GROUP BY t.nationkey ORDER BY t.nationkey
    """,
    doc=(
        "Theil inequality index of customer revenue per nation — the "
        "information-theoretic companion to q159's Gini (unlike Gini it "
        "decomposes additively into between/within components, which is "
        "why econometrics prefers it for subgroup attribution): "
        "T = (1/n) SUM (x/mu) ln(x/mu).  Two aggregations and one "
        "broadcast join of the 25-row nation-mean frame back onto the "
        "per-customer aggregate — no windows, no second scan of orders.  "
        "Scale: per-customer revenue is the only shuffle; everything "
        "after is nation-cardinality"
    ),
)
def q232(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("rev")
    )
    tagged = per_cust.join(
        F.broadcast(
            cust.select(
                F.col("c_custkey").alias("o_custkey"),
                F.col("c_nationkey").alias("nationkey"),
            )
        ),
        "o_custkey",
    )
    mu = tagged.groupBy("nationkey").agg(
        F.count("*").alias("n"), F.avg("rev").alias("mean_rev")
    )
    ratio = F.col("rev") / F.col("mean_rev")
    return (
        tagged.join(F.broadcast(mu), "nationkey")
        .groupBy("nationkey")
        .agg(
            F.any_value(F.col("n")).cast("long").alias("n_customers"),
            F.round(F.avg(ratio * F.log(ratio)), 6).alias("theil"),
        )
        .orderBy("nationkey")
    )


@register(
    "q233_zipf_slope",
    """
    WITH tok AS (
        SELECT unnest(string_split_regex(lower(text), '\\s+')) AS t
        FROM documents
    ), freq AS (
        SELECT t, count(*) AS cnt FROM tok
        WHERE regexp_matches(t, '^[a-z]+$')
        GROUP BY t
    ), ranked AS (
        SELECT cnt, row_number() OVER (ORDER BY cnt DESC, t ASC) AS rnk
        FROM freq QUALIFY rnk <= 200
    )
    SELECT CAST(count(*) AS BIGINT) AS n_tokens,
           round(regr_slope(ln(cnt), ln(rnk)), 6) AS zipf_slope,
           round(regr_intercept(ln(cnt), ln(rnk)), 6) AS zipf_intercept
    FROM ranked
    """,
    doc=(
        "Zipf's-law fit over the corpus vocabulary: log-log OLS of "
        "frequency against rank for the top-200 alphabetic tokens "
        "(natural text sits near slope -1; a corpus that drifts far "
        "from it is boilerplate- or spam-heavy — a standard "
        "training-data health indicator).  The token count is one "
        "explode+aggregate; the top-200 survives via distributed "
        "orderBy+limit (TakeOrderedAndProject, no global window), ranks "
        "are assigned on the 200 survivors by the bounded "
        "single-range-path assigner, and the slope/intercept are "
        "regr_* aggregates — mergeable sums, exactly mirrored in "
        "DuckDB.  Scale: only the vocabulary aggregate shuffles; the "
        "regression runs on 200 rows"
    ),
)
def q233(spark, sf_dir):
    from ..operators.keys import with_surrogate_key

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("t")
    ).filter(F.col("t").rlike("^[a-z]+$"))
    freq = tok.groupBy("t").agg(F.count("*").alias("cnt"))
    top = freq.orderBy(F.col("cnt").desc(), F.col("t").asc()).limit(200)
    ranked = with_surrogate_key(
        top.withColumn("neg_cnt", -F.col("cnt")),
        ["neg_cnt", "t"],
        id_col="rnk",
        num_partitions=1,
    )
    y = F.log(F.col("cnt").cast("double"))
    x = F.log(F.col("rnk").cast("double"))
    return ranked.agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.round(F.regr_slope(y, x), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(y, x), 6).alias("zipf_intercept"),
    )


@register(
    "q234_purchase_streaks",
    """
    WITH days AS (
        SELECT DISTINCT o_custkey,
               datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                   AS d
        FROM orders
    ), grp AS (
        SELECT o_custkey, d,
               d - row_number() OVER (
                   PARTITION BY o_custkey ORDER BY d) AS g
        FROM days
    ), streaks AS (
        SELECT o_custkey, count(*) AS len
        FROM grp GROUP BY o_custkey, g
    ), best AS (
        SELECT o_custkey, max(len) AS best_streak FROM streaks GROUP BY 1
    )
    SELECT CAST(best_streak AS BIGINT) AS streak_days,
           count(*) AS n_customers
    FROM best GROUP BY best_streak ORDER BY streak_days
    """,
    doc=(
        "Longest consecutive-day purchase streak per customer, "
        "histogrammed — the gaps-and-islands pattern (day_number minus "
        "per-key row_number is constant within a run) that powers "
        "engagement-streak features everywhere.  Dates become integer "
        "epoch days BEFORE the window so the island arithmetic is "
        "engine-portable integer math.  The only window is partitioned "
        "by customer — distributed by key, never a single-partition "
        "sort.  Scale: one distinct + one keyed window + two "
        "aggregations, all on the same customer hash exchange"
    ),
)
def q234(spark, sf_dir):
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    days = orders.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01")
        ).alias("d"),
    ).distinct()
    w = Window.partitionBy("o_custkey").orderBy("d")
    grp = days.withColumn("g", F.col("d") - F.row_number().over(w))
    streaks = grp.groupBy("o_custkey", "g").agg(F.count("*").alias("len"))
    best = streaks.groupBy("o_custkey").agg(
        F.max("len").alias("best_streak")
    )
    return (
        best.groupBy(F.col("best_streak").cast("long").alias("streak_days"))
        .agg(F.count("*").alias("n_customers"))
        .orderBy("streak_days")
    )


@register(
    "q235_weighted_median_discount",
    """
    WITH byval AS (
        SELECT l_returnflag, l_discount, sum(l_quantity) AS w
        FROM lineitem GROUP BY l_returnflag, l_discount
    ), cum AS (
        SELECT l_returnflag, l_discount, w,
               sum(w) OVER (PARTITION BY l_returnflag
                            ORDER BY l_discount
                            ROWS UNBOUNDED PRECEDING) AS cw,
               sum(w) OVER (PARTITION BY l_returnflag) AS tot
        FROM byval
    )
    SELECT l_returnflag,
           round(min(l_discount) FILTER (WHERE cw >= tot / 2), 2)
               AS weighted_median_discount,
           round(any_value(tot), 2) AS total_weight
    FROM cum GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc=(
        "Quantity-weighted median, VALUE-DOMAIN-COLLAPSED — the scale "
        "path of q114's per-row formulation (exactly the q148→q221 "
        "relationship: same answer, different asymptotics).  q114's "
        "cumulative window walks every lineitem ROW per partition; "
        "here the value domain collapses FIRST (groupBy flag+discount: "
        "3x11 rows at any corpus size), so the cumulative-weight "
        "window runs on a bounded-cardinality frame — at 100 TB that "
        "is the difference between a window over billions of rows and "
        "one over the distinct-value table.  Exact, sketch-free; "
        "applicable whenever the value domain is low-cardinality "
        "(discounts, star ratings, bucketed prices).  Scale: one "
        "aggregation over lineitem; everything after is "
        "O(distinct values)"
    ),
)
def q235(spark, sf_dir):
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    byval = li.groupBy("l_returnflag", "l_discount").agg(
        F.sum("l_quantity").alias("w")
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_discount")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("l_returnflag")
    cum = byval.withColumn("cw", F.sum("w").over(wcum)).withColumn(
        "tot", F.sum("w").over(wtot)
    )
    return (
        cum.groupBy("l_returnflag")
        .agg(
            F.round(
                F.min(
                    F.when(
                        F.col("cw") >= F.col("tot") / 2, F.col("l_discount")
                    )
                ),
                2,
            ).alias("weighted_median_discount"),
            F.round(F.any_value("tot"), 2).alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q236_supplier_hhi",
    """
    WITH per_supp AS (
        SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS rev
        FROM lineitem GROUP BY l_suppkey
    )
    SELECT s.s_nationkey AS nationkey,
           count(*) AS n_suppliers,
           round(sum(p.rev * p.rev) / (sum(p.rev) * sum(p.rev)), 6) AS hhi,
           round(sum(p.rev), 2) AS nation_revenue
    FROM per_supp p JOIN supplier s ON s.s_suppkey = p.l_suppkey
    GROUP BY s.s_nationkey ORDER BY nationkey
    """,
    doc=(
        "Herfindahl-Hirschman concentration of supplier revenue per "
        "nation — the antitrust-style market-structure summary "
        "(complements q218's per-part dominance flags with a single "
        "comparable scalar per market).  The identity "
        "HHI = SUM(rev_i^2) / (SUM rev_i)^2 makes it ONE aggregation "
        "over the per-supplier partials — no share column, no second "
        "pass, no window.  Scale: the supplier aggregate is the only "
        "shuffle; the supplier dim broadcast-joins onto it"
    ),
)
def q236(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("rev")
    )
    return (
        per_supp.join(
            F.broadcast(
                supp.select(
                    F.col("s_suppkey").alias("l_suppkey"),
                    F.col("s_nationkey").alias("nationkey"),
                )
            ),
            "l_suppkey",
        )
        .groupBy("nationkey")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(
                F.sum(F.col("rev") * F.col("rev"))
                / (F.sum("rev") * F.sum("rev")),
                6,
            ).alias("hhi"),
            F.round(F.sum("rev"), 2).alias("nation_revenue"),
        )
        .orderBy("nationkey")
    )


@register(
    "q237_rfm_segments",
    """
    WITH anchor AS (
        SELECT max(CAST(o_orderdate AS DATE)) AS maxd FROM orders
    ), rfm AS (
        SELECT o_custkey,
               datediff('day', max(CAST(o_orderdate AS DATE)),
                        any_value(a.maxd)) AS r_days,
               count(*) AS f_cnt,
               CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS m_cents
        FROM orders, anchor a GROUP BY o_custkey
    ), cuts AS (
        SELECT quantile_cont(r_days, [0.2, 0.4, 0.6, 0.8]) AS rc,
               quantile_cont(f_cnt, [0.2, 0.4, 0.6, 0.8]) AS fc,
               quantile_cont(m_cents, [0.2, 0.4, 0.6, 0.8]) AS mc
        FROM rfm
    ), scored AS (
        SELECT o_custkey,
               5 - ((r_days > rc[1])::INT + (r_days > rc[2])::INT
                    + (r_days > rc[3])::INT + (r_days > rc[4])::INT)
                   AS r_score,
               1 + (f_cnt > fc[1])::INT + (f_cnt > fc[2])::INT
                 + (f_cnt > fc[3])::INT + (f_cnt > fc[4])::INT AS f_score,
               1 + (m_cents > mc[1])::INT + (m_cents > mc[2])::INT
                 + (m_cents > mc[3])::INT + (m_cents > mc[4])::INT
                   AS m_score,
               m_cents
        FROM rfm, cuts
    )
    SELECT r_score, f_score, m_score,
           count(*) AS n_customers,
           round(sum(m_cents) / 100.0, 2) AS segment_revenue
    FROM scored GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
    doc=(
        "RFM customer segmentation (recency/frequency/monetary quintile "
        "scores — the workhorse marketing segmentation): per-customer R "
        "(days since last order, anchored to the corpus max date so the "
        "result is reproducible), F (order count) and M (integer CENTS "
        "— the q122/q207 engine-parity rule for interpolated "
        "percentiles), scored 1-5 against exact 20/40/60/80th "
        "percentile cut-points (Spark percentile() and DuckDB "
        "quantile_cont share the p*(n-1) linear-interpolation "
        "definition), recency inverted so 5 = most recent.  No ntile, "
        "no global window: the cut-points are ONE aggregate row "
        "broadcast back over the per-customer frame.  Scale: one "
        "orders aggregation; scoring is a broadcast comparison"
    ),
)
def q237(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    rfm = (
        orders.crossJoin(
            F.broadcast(
                orders.agg(
                    F.max(F.col("o_orderdate").cast("date")).alias("maxd")
                )
            )
        )
        .groupBy("o_custkey")
        .agg(
            F.datediff(
                F.any_value("maxd"),
                F.max(F.col("o_orderdate").cast("date")),
            ).alias("r_days"),
            F.count("*").alias("f_cnt"),
            F.round(F.sum("o_totalprice") * 100)
            .cast("long")
            .alias("m_cents"),
        )
    )
    cuts = rfm.agg(
        F.expr(
            "percentile(r_days, array(0.2D, 0.4D, 0.6D, 0.8D))"
        ).alias("rc"),
        F.expr(
            "percentile(f_cnt, array(0.2D, 0.4D, 0.6D, 0.8D))"
        ).alias("fc"),
        F.expr(
            "percentile(m_cents, array(0.2D, 0.4D, 0.6D, 0.8D))"
        ).alias("mc"),
    )

    def score(col, cut, invert=False):
        hits = sum(
            (F.col(col) > F.col(cut)[i]).cast("int") for i in range(4)
        )
        return (5 - hits) if invert else (1 + hits)

    scored = rfm.crossJoin(F.broadcast(cuts)).select(
        "o_custkey",
        score("r_days", "rc", invert=True).alias("r_score"),
        score("f_cnt", "fc").alias("f_score"),
        score("m_cents", "mc").alias("m_score"),
        "m_cents",
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("m_cents") / 100.0, 2).alias("segment_revenue"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


_Q238_MIN_PAIR = 3    # minimum co-occurrence baskets for a rule
_Q238_TOPN = 20


@register(
    "q238_association_rules",
    f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        FROM lineitem
    ), n AS (
        SELECT count(DISTINCT basket) AS n_baskets FROM items
    ), item_supp AS (
        SELECT item, count(*) AS cnt FROM items GROUP BY item
    ), pair AS (
        SELECT a.item AS lhs, b.item AS rhs, count(*) AS both_cnt
        FROM items a JOIN items b
          ON a.basket = b.basket AND a.item <> b.item
        GROUP BY a.item, b.item
        HAVING count(*) >= {_Q238_MIN_PAIR}
    ), rules AS (
        SELECT p.lhs, p.rhs,
               CAST(p.both_cnt AS BIGINT) AS both_cnt,
               round(p.both_cnt * 1.0 / la.cnt, 6) AS confidence,
               round(p.both_cnt * 1.0 * n.n_baskets
                     / (la.cnt * 1.0 * lb.cnt), 6) AS lift
        FROM pair p
        JOIN item_supp la ON la.item = p.lhs
        JOIN item_supp lb ON lb.item = p.rhs
        CROSS JOIN n
    )
    SELECT * FROM rules
    ORDER BY lift DESC, lhs, rhs LIMIT {_Q238_TOPN}
    """,
    doc=(
        "Market-basket association rules (support/confidence/lift — the "
        "classic a-priori output q201's cosine CF does not give: lift "
        "is calibrated against independence, so a rule reads as 'x "
        "makes y N-times likelier'): distinct basket-item pairs, "
        "self-join per basket for co-occurrence counts with a minimum-"
        "support floor, then confidence = P(rhs|lhs) and lift = "
        "P(both)/(P(lhs)P(rhs)).  Top-20 by (lift, lhs, rhs) — fully "
        "deterministic ordering — via distributed orderBy+limit.  "
        "Scale: the self-join fans out per-basket (baskets are small; "
        "the min-support HAVING prunes the long tail before the "
        "stats joins, which broadcast the item-support side)"
    ),
)
def q238(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("basket"), F.col("l_partkey").alias("item")
    ).distinct()
    n_baskets = items.select(
        F.countDistinct("basket").alias("n_baskets")
    )
    item_supp = items.groupBy("item").agg(F.count("*").alias("cnt"))
    a = items.alias("a")
    b = items.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.basket") == F.col("b.basket"))
            & (F.col("a.item") != F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("lhs"), F.col("b.item").alias("rhs")
        )
        .agg(F.count("*").alias("both_cnt"))
        .filter(F.col("both_cnt") >= _Q238_MIN_PAIR)
    )
    rules = (
        pair.join(
            F.broadcast(
                item_supp.select(
                    F.col("item").alias("lhs"), F.col("cnt").alias("la_cnt")
                )
            ),
            "lhs",
        )
        .join(
            F.broadcast(
                item_supp.select(
                    F.col("item").alias("rhs"), F.col("cnt").alias("lb_cnt")
                )
            ),
            "rhs",
        )
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "lhs",
            "rhs",
            F.col("both_cnt").cast("long").alias("both_cnt"),
            F.round(
                F.col("both_cnt") * 1.0 / F.col("la_cnt"), 6
            ).alias("confidence"),
            F.round(
                F.col("both_cnt")
                * 1.0
                * F.col("n_baskets")
                / (F.col("la_cnt") * 1.0 * F.col("lb_cnt")),
                6,
            ).alias("lift"),
        )
    )
    return rules.orderBy(
        F.col("lift").desc(), "lhs", "rhs"
    ).limit(_Q238_TOPN)


@register(
    "q239_new_vs_returning",
    """
    WITH firsts AS (
        SELECT o_custkey, min(o_orderdate) AS first_ts
        FROM orders GROUP BY o_custkey
    )
    SELECT strftime(CAST(o.o_orderdate AS DATE), '%Y-%m') AS month,
           CAST(count(*) FILTER (WHERE o.o_orderdate = f.first_ts)
                AS BIGINT) AS n_new,
           CAST(count(*) FILTER (WHERE o.o_orderdate <> f.first_ts)
                AS BIGINT) AS n_returning,
           round(sum(o.o_totalprice)
                 FILTER (WHERE o.o_orderdate = f.first_ts), 2) AS new_rev,
           round(coalesce(sum(o.o_totalprice)
                 FILTER (WHERE o.o_orderdate <> f.first_ts), 0), 2)
               AS returning_rev
    FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
    GROUP BY month ORDER BY month
    """,
    doc=(
        "New-vs-returning monthly revenue split (the acquisition/"
        "retention decomposition on every growth dashboard): each "
        "customer's first-order timestamp comes from one aggregation, "
        "joined back so every order classifies as 'new' (it IS the "
        "first) or 'returning'.  No window: min+join replaces "
        "first_value over a per-customer frame, so both passes ride "
        "the same customer-key exchange.  Scale: one aggregate + one "
        "equi-join on the aggregate's own key"
    ),
)
def q239(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    firsts = orders.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_ts")
    )
    is_new = F.col("o_orderdate") == F.col("first_ts")
    return (
        orders.join(firsts, "o_custkey")
        .groupBy(
            F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM")
            .alias("month")
        )
        .agg(
            F.count_if(is_new).cast("long").alias("n_new"),
            F.count_if(~is_new).cast("long").alias("n_returning"),
            F.round(F.sum(F.when(is_new, F.col("o_totalprice"))), 2)
            .alias("new_rev"),
            F.round(
                F.coalesce(
                    F.sum(F.when(~is_new, F.col("o_totalprice"))),
                    F.lit(0.0),
                ),
                2,
            ).alias("returning_rev"),
        )
        .orderBy("month")
    )


@register(
    "q240_price_elasticity",
    """
    SELECT p.p_brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(regr_slope(ln(l.l_quantity),
                            ln(l.l_extendedprice / l.l_quantity
                               * (1 - l.l_discount))), 6) AS elasticity,
           round(regr_r2(ln(l.l_quantity),
                         ln(l.l_extendedprice / l.l_quantity
                            * (1 - l.l_discount))), 6) AS r2
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand ORDER BY p.p_brand
    """,
    doc=(
        "Log-log price elasticity of demand per brand: OLS slope of "
        "ln(quantity) on ln(effective unit price) — the constant-"
        "elasticity model's direct estimate, with regr_r2 reporting "
        "how much of the variance the price story actually explains.  "
        "regr_* are sum-based mergeable aggregates (the q233 "
        "discipline), so the whole estimate is one grouped pass over "
        "lineitem with the part dim broadcast.  Scale: one shuffle on "
        "brand — regression coefficients at any volume without "
        "collecting a single row"
    ),
)
def q240(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    unit_price = (
        F.col("l_extendedprice")
        / F.col("l_quantity")
        * (1 - F.col("l_discount"))
    )
    y = F.log(F.col("l_quantity"))
    x = F.log(unit_price)
    return (
        li.join(
            F.broadcast(
                part.select(
                    F.col("p_partkey").alias("l_partkey"), "p_brand"
                )
            ),
            "l_partkey",
        )
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.round(F.regr_slope(y, x), 6).alias("elasticity"),
            F.round(F.regr_r2(y, x), 6).alias("r2"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# q241 — row-tracked CDF with update pairing, audited end-to-end
# ---------------------------------------------------------------------------


def _q241_oracle() -> str:
    return """
    WITH v0 AS (
        SELECT 0 AS commit_version, 'insert' AS change_type,
               count(*) AS n_rows, round(sum(c_acctbal), 2) AS balance
        FROM customer
    ), v1_pre AS (
        SELECT 1, 'update_preimage', count(*), round(sum(c_acctbal), 2)
        FROM customer WHERE c_acctbal < 0
    ), v1_post AS (
        SELECT 1, 'update_postimage', count(*),
               round(sum(c_acctbal + 100), 2)
        FROM customer WHERE c_acctbal < 0
    ), adjusted AS (
        SELECT c_custkey,
               CASE WHEN c_acctbal < 0 THEN c_acctbal + 100
                    ELSE c_acctbal END AS bal
        FROM customer
    ), v2_pre AS (
        SELECT 2, 'update_preimage', count(*), round(sum(bal), 2)
        FROM adjusted WHERE c_custkey % 100 = 0
    ), v2_post AS (
        SELECT 2, 'update_postimage', count(*), round(sum(bal), 2)
        FROM adjusted WHERE c_custkey % 100 = 0
    ), v2_ins AS (
        -- keys divisible by both 100 and 150 keep their key in the
        -- source (the update branch wins), so only %150-not-%100 keys
        -- arrive shifted and insert
        SELECT 2, 'insert', count(*), round(sum(bal), 2)
        FROM adjusted
        WHERE c_custkey % 150 = 0 AND c_custkey % 100 <> 0
    )
    SELECT * FROM v0 UNION ALL SELECT * FROM v1_pre
    UNION ALL SELECT * FROM v1_post UNION ALL SELECT * FROM v2_pre
    UNION ALL SELECT * FROM v2_post UNION ALL SELECT * FROM v2_ins
    ORDER BY commit_version, change_type
    """


@register(
    "q241_row_tracked_cdf",
    _q241_oracle(),
    doc=(
        "Row-tracked Change Data Feed with update pairing, under the "
        "value-hash gate: the builder appends customer with "
        "assign_row_ids=True, UPDATEs negative balances (+100), then "
        "MERGEs a source that renames every c_custkey %% 100 = 0 "
        "customer and inserts shifted-key copies of every %% 150 = 0 "
        "one — and tx_changes(pair_updates=True) must label each "
        "update's delete+insert pair as update_preimage/postimage via "
        "the shared _row_id (Delta's four-label CDF contract), with "
        "per-(version, label) counts and balance sums equal to "
        "DuckDB's CASE-derived expectation.  The hash therefore covers "
        "id assignment, id preservation across BOTH rewrite kinds, "
        "fresh-id minting for merge inserts, and the pairing "
        "intersect itself (sources/txlog.py::tx_changes pair_updates)"
    ),
)
def q241(spark, sf_dir):
    from ..sources.txlog import (
        TransactionLog,
        tx_append_partitioned,
        tx_changes,
        tx_merge_into,
        tx_update_where,
    )

    cust = _t(spark, sf_dir, "customer")
    path = _scratch_path(sf_dir, "q241", "customer")
    log = TransactionLog(path)
    if log.version() < 0:
        tx_append_partitioned(
            spark, cust, path, partition_by="c_mktsegment",
            txn={"app": "q241", "batch": 0}, assign_row_ids=True,
        )
    if log.version() < 1:
        tx_update_where(
            spark, path, {"c_acctbal": "c_acctbal + 100"}, "c_acctbal < 0"
        )
    if log.version() < 2:
        source = (
            cust.filter(
                (F.col("c_custkey") % 100 == 0)
                | (F.col("c_custkey") % 150 == 0)
            )
            .select(
                F.when(
                    F.col("c_custkey") % 100 == 0, F.col("c_custkey")
                ).otherwise(F.col("c_custkey") + 10_000_000)
                .alias("c_custkey"),
                F.concat(F.col("c_name"), F.lit("*")).alias("c_name"),
                "c_nationkey",
                F.when(
                    F.col("c_acctbal") < 0, F.col("c_acctbal") + 100
                ).otherwise(F.col("c_acctbal")).alias("c_acctbal"),
                "c_mktsegment",
            )
        )
        tx_merge_into(
            spark, path, source, on=["c_custkey"],
            when_matched_update={"c_name": "s.c_name"},
            when_not_matched_insert=True,
        )
    ch = tx_changes(spark, path, pair_updates=True)
    return (
        ch.groupBy(
            F.col("_commit_version").cast("int").alias("commit_version"),
            F.col("_change_type").alias("change_type"),
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("c_acctbal"), 2).alias("balance"),
        )
        # the oracle is a FIXED six-branch union whose aggregates emit a
        # (count 0, NULL) row even for an EMPTY slice, while groupBy
        # emits no row for an empty group; right-join the literal label
        # grid so both engines agree at ANY scale factor (at sf0.001 the
        # corpus has no c_custkey %150 <> %100 row, so the merge's
        # insert slice is legitimately empty — round-13 latent-mismatch
        # fix, pre-existing on the untouched round-12 tree; at sf0.01+
        # every slice is non-empty and the output is bit-identical).
        # FULL outer, not right: an engine-produced slice OUTSIDE the
        # grid (a CDF divergence — e.g. an unexpected delete) must
        # surface as an extra row and fail the oracle diff instead of
        # silently vanishing (round-13 ADVICE)
        .join(
            ch.sparkSession.createDataFrame(
                [
                    (0, "insert"),
                    (1, "update_preimage"),
                    (1, "update_postimage"),
                    (2, "update_preimage"),
                    (2, "update_postimage"),
                    (2, "insert"),
                ],
                "commit_version int, change_type string",
            ),
            ["commit_version", "change_type"],
            "full_outer",
        )
        .select(
            "commit_version",
            "change_type",
            F.coalesce(F.col("n_rows"), F.lit(0)).cast("long")
            .alias("n_rows"),
            "balance",
        )
        .orderBy("commit_version", "change_type")
    )


@register(
    "q242_abc_classification",
    """
    WITH per_part AS (
        SELECT l_partkey, sum(l_extendedprice * (1 - l_discount)) AS rev
        FROM lineitem GROUP BY l_partkey
    ), ranked AS (
        SELECT l_partkey, rev,
               sum(rev) OVER (ORDER BY rev DESC, l_partkey
                              ROWS UNBOUNDED PRECEDING) AS cum_rev,
               sum(rev) OVER () AS tot
        FROM per_part
    ), classed AS (
        SELECT CASE
                 WHEN (cum_rev - rev) / tot < 0.8 THEN 'A'
                 WHEN (cum_rev - rev) / tot < 0.95 THEN 'B'
                 ELSE 'C'
               END AS abc_class, rev
        FROM ranked
    )
    SELECT abc_class,
           count(*) AS n_parts,
           round(sum(rev), 2) AS class_revenue
    FROM classed GROUP BY abc_class ORDER BY abc_class
    """,
    doc=(
        "ABC inventory classification (the Pareto workhorse: A = parts "
        "up to 80 %% of revenue, B = to 95 %%, C = the tail), classed "
        "on the PRE-item cumulative share so the part that crosses a "
        "boundary lands in the class it starts in — deterministic "
        "cross-engine with the (rev DESC, key) total order.  The "
        "cumulative pass runs over the per-part AGGREGATE (dimension-"
        "bounded, the q159 discipline), with the distributed prefix-sum "
        "machinery replacing the window when even the part dimension "
        "outgrows one range.  Scale: one lineitem shuffle; everything "
        "after is O(|parts|)"
    ),
)
def q242(spark, sf_dir):
    from ..operators.rankstats import prefix_sums_by_value

    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("rev")
    )
    # distributed cumulative revenue in (rev DESC, key ASC) order: the
    # range-partitioned prefix-sum exchange, never a single-partition
    # window; the sort key is a struct so the helper's single-value
    # contract (distinct, totally ordered) holds (operators/rankstats.py)
    ordered = per_part.withColumn(
        "__ord",
        F.struct(
            (-F.col("rev")).alias("a"), F.col("l_partkey").alias("b")
        ),
    )
    cum = prefix_sums_by_value(ordered, "__ord", ["rev"])
    tot = per_part.agg(F.sum("rev").alias("tot"))
    share_before = (F.col("cum_rev") - F.col("rev")) / F.col("tot")
    classed = cum.crossJoin(F.broadcast(tot)).select(
        F.when(share_before < 0.8, F.lit("A"))
        .when(share_before < 0.95, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
        "rev",
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.sum("rev"), 2).alias("class_revenue"),
        )
        .orderBy("abc_class")
    )


@register(
    "q243_history_audit",
    f"""
    SELECT 0 AS version, 'append' AS op,
           count(*) FILTER (WHERE o_orderkey % 2 = 0) AS rows_added
    FROM orders
    UNION ALL
    SELECT 1, 'append', count(*) FILTER (WHERE o_orderkey % 2 = 1)
    FROM orders
    UNION ALL
    -- the cow DELETE rewrites ONLY files containing a match: keys
    -- ending in 3 are all odd, so exactly the odd-append files are
    -- affected and the rewrite re-adds their survivors
    SELECT 2, 'delete',
           count(*) FILTER (WHERE o_orderkey % 2 = 1
                            AND o_orderkey % {_Q226_DELETE_MOD} <> 3)
    FROM orders
    ORDER BY version
    """,
    doc=(
        "DESCRIBE HISTORY under the value-hash gate: tx_history over "
        "the q226 three-commit table must report per-version rows_added "
        "(parquet-footer metadata, no data scan) equal to DuckDB's "
        "derivation from the raw corpus — the two appends' parity "
        "splits, and the cow DELETE re-adding exactly the surviving "
        "rows of the AFFECTED files only (keys ending in 3 are odd, so "
        "just the odd-append files rewrite — the hash also witnesses "
        "affected-file scoping).  File COUNTS are "
        "deliberately excluded: they depend on shuffle parallelism, "
        "not semantics (sources/txlog.py::tx_history)"
    ),
)
def q243(spark, sf_dir):
    from ..sources.txlog import tx_history

    path = _q226_build(spark, sf_dir)
    return (
        tx_history(spark, path)
        .select(
            "version",
            "op",
            F.col("rows_added").alias("rows_added"),
        )
        .orderBy("version")
    )


@register(
    "q244_forecast_mase",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS rev_c
        FROM orders GROUP BY d
    ), joined AS (
        SELECT a.d, a.rev_c,
               b.rev_c AS pred_c,      -- seasonal-naive: value 7 days ago
               n.rev_c AS naive_c      -- 1-step naive: value 1 day ago
        FROM daily a
        JOIN daily b ON b.d = a.d - 7
        JOIN daily n ON n.d = a.d - 1
    )
    SELECT count(*) AS n_days,
           round(avg(abs(rev_c - pred_c)) / 100.0, 2) AS mae_seasonal,
           round(avg(abs(rev_c - naive_c)) / 100.0, 2) AS mae_naive,
           round(avg(CAST(abs(rev_c - pred_c) AS DOUBLE))
                 / avg(CAST(abs(rev_c - naive_c) AS DOUBLE)), 6) AS mase
    FROM joined
    """,
    doc=(
        "Forecast-method evaluation on daily revenue: seasonal-naive "
        "(same weekday last week) scored against the 1-step naive "
        "benchmark as MASE (Hyndman's scale-free standard — MASE < 1 "
        "means the seasonal structure q151/q220 detect is actually "
        "PREDICTIVE, the go/no-go gate before any fancier model).  "
        "Daily sums collapse to integer cents first (the q217 "
        "discipline), lag features are self-equi-joins on shifted "
        "dates — no window, no sequential recursion, mergeable all the "
        "way down.  Scale: one orders aggregation; the lag joins run "
        "on the |days| aggregate"
    ),
)
def q244(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.round(F.sum("o_totalprice") * 100).cast("long").alias("rev_c")
    )
    a = daily.alias("a")
    b = daily.select(
        F.date_add("d", 7).alias("d"), F.col("rev_c").alias("pred_c")
    ).alias("b")
    n = daily.select(
        F.date_add("d", 1).alias("d"), F.col("rev_c").alias("naive_c")
    ).alias("n")
    j = a.join(b, "d").join(n, "d")
    err_s = F.abs(F.col("rev_c") - F.col("pred_c"))
    err_n = F.abs(F.col("rev_c") - F.col("naive_c"))
    return j.agg(
        F.count("*").alias("n_days"),
        F.round(F.avg(err_s) / 100.0, 2).alias("mae_seasonal"),
        F.round(F.avg(err_n) / 100.0, 2).alias("mae_naive"),
        F.round(
            F.avg(err_s.cast("double")) / F.avg(err_n.cast("double")), 6
        ).alias("mase"),
    )


@register(
    "q247_dup_rate_by_source",
    """
    WITH fp AS (
        SELECT source, md5(trim(lower(text))) AS h FROM documents
    ), per_hash AS (
        SELECT source, h, count(*) AS n FROM fp GROUP BY source, h
    )
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(sum(n) - count(*) AS BIGINT) AS n_redundant,
           round((sum(n) - count(*)) * 1.0 / sum(n), 6) AS dup_rate
    FROM per_hash GROUP BY source ORDER BY source
    """,
    doc=(
        "Exact-duplicate rate per source — the corpus-health rollup on "
        "top of q52's group listing (a dashboard wants the RATE per "
        "feed, not the pairs): normalized-text fingerprints, redundant "
        "copies = docs minus distinct fingerprints, per source.  One "
        "hash aggregation; the rate arithmetic runs on the "
        "|sources x distinct-hashes| aggregate.  The source whose "
        "dup_rate jumps is the one whose scraper started re-crawling "
        "— this metric is the alert, q52 is the drill-down"
    ),
)
def q247(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    per_hash = docs.select(
        "source", F.md5(F.trim(F.lower(F.col("text")))).alias("h")
    ).groupBy("source", "h").agg(F.count("*").alias("n"))
    return (
        per_hash.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            (F.sum("n") - F.count("*")).cast("long").alias("n_redundant"),
            F.round(
                (F.sum("n") - F.count("*")) * 1.0 / F.sum("n"), 6
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


@register(
    "q249_price_bands_by_priority",
    """
    WITH cents AS (
        SELECT o_orderpriority,
               CAST(round(o_totalprice * 100) AS BIGINT) AS c
        FROM orders
    )
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round(quantile_cont(c, 0.25) / 100.0, 2) AS p25,
           round(quantile_cont(c, 0.50) / 100.0, 2) AS p50,
           round(quantile_cont(c, 0.75) / 100.0, 2) AS p75,
           round(quantile_cont(c, 0.90) / 100.0, 2) AS p90
    FROM cents GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc=(
        "Order-value percentile bands per priority (the box-plot "
        "summary behind every pricing dashboard): exact interpolated "
        "p25/p50/p75/p90 over integer CENTS — Spark percentile() and "
        "DuckDB quantile_cont share the p*(n-1) interpolation on "
        "integers, the q122/q237 engine-parity rule.  One grouped "
        "aggregate; percentile() is a partial-aggregable sketch-free "
        "exact at dimension-bounded group counts"
    ),
)
def q249(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    cents = orders.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    pct = F.expr("percentile(c, array(0.25D, 0.5D, 0.75D, 0.9D))")
    agg = cents.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"), pct.alias("p")
    )
    return agg.select(
        "o_orderpriority",
        "n_orders",
        *[
            F.round(F.col("p")[i] / 100.0, 2).alias(name)
            for i, name in enumerate(["p25", "p50", "p75", "p90"])
        ],
    ).orderBy("o_orderpriority")


@register(
    "q250_repeat_purchase_intervals",
    """
    WITH seq AS (
        SELECT o_custkey,
               datediff('day',
                        lag(CAST(o_orderdate AS DATE)) OVER (
                            PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey),
                        CAST(o_orderdate AS DATE)) AS gap_days
        FROM orders
    )
    SELECT CAST(count(*) AS BIGINT) AS n_intervals,
           round(quantile_cont(gap_days, 0.50), 2) AS p50_days,
           round(quantile_cont(gap_days, 0.90), 2) AS p90_days,
           round(avg(gap_days), 6) AS mean_days
    FROM seq WHERE gap_days IS NOT NULL
    """,
    doc=(
        "Repeat-purchase interval distribution (the replenishment-cycle "
        "input to churn windows and send-time optimization): per-"
        "customer consecutive-order gaps via a CUSTOMER-KEYED lag "
        "window (deterministic (date, key) order), then exact "
        "interpolated p50/p90 over the integer day gaps — the q122 "
        "parity rule again.  Scale: the lag window rides the customer "
        "hash exchange; the quantile runs on the gap aggregate"
    ),
)
def q250(spark, sf_dir):
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = orders.select(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("gap_days")
    ).filter(F.col("gap_days").isNotNull())
    return seq.agg(
        F.count("*").cast("long").alias("n_intervals"),
        F.round(F.expr("percentile(gap_days, 0.5D)"), 2).alias("p50_days"),
        F.round(F.expr("percentile(gap_days, 0.9D)"), 2).alias("p90_days"),
        F.round(F.avg("gap_days"), 6).alias("mean_days"),
    )


@register(
    "q252_spend_quartile_migration",
    """
    WITH bounds AS (
        SELECT min(o_orderdate) AS lo,
               min(o_orderdate)
               + (max(o_orderdate) - min(o_orderdate)) / 2 AS mid
        FROM orders
    ), spend AS (
        SELECT o_custkey,
               CAST(round(sum(o_totalprice) FILTER (
                   WHERE o_orderdate < b.mid) * 100) AS BIGINT) AS s1,
               CAST(round(sum(o_totalprice) FILTER (
                   WHERE o_orderdate >= b.mid) * 100) AS BIGINT) AS s2
        FROM orders, bounds b GROUP BY o_custkey
    ), active AS (
        SELECT * FROM spend WHERE s1 IS NOT NULL AND s2 IS NOT NULL
    ), cuts AS (
        SELECT quantile_cont(s1, [0.25, 0.5, 0.75]) AS c1,
               quantile_cont(s2, [0.25, 0.5, 0.75]) AS c2
        FROM active
    )
    SELECT 1 + (s1 > c1[1])::INT + (s1 > c1[2])::INT + (s1 > c1[3])::INT
               AS q_before,
           1 + (s2 > c2[1])::INT + (s2 > c2[2])::INT + (s2 > c2[3])::INT
               AS q_after,
           count(*) AS n_customers
    FROM active, cuts
    GROUP BY q_before, q_after ORDER BY q_before, q_after
    """,
    doc=(
        "Customer spend-quartile migration matrix between the first and "
        "second half of the corpus time range — the Markov-style "
        "transition table behind 'are our best customers staying "
        "best?'.  Halves split at the midpoint timestamp (derived from "
        "the data, reproducible), spend collapses to integer cents, "
        "quartile cut-points are exact interpolated percentiles "
        "broadcast back (q237's engine-parity discipline), and the "
        "matrix is one grouped count over customers active in BOTH "
        "halves.  Scale: one orders aggregation + a one-row broadcast"
    ),
)
def q252(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
    ).select(
        F.expr(
            "lo + make_dt_interval(0, 0, 0, "
            "CAST(timestampdiff(SECOND, lo, hi) AS DOUBLE) / 2)"
        ).alias("mid")
    )
    spend = (
        orders.crossJoin(F.broadcast(bounds))
        .groupBy("o_custkey")
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.col("o_orderdate") < F.col("mid"),
                        F.col("o_totalprice"),
                    )
                ) * 100
            ).cast("long").alias("s1"),
            F.round(
                F.sum(
                    F.when(
                        F.col("o_orderdate") >= F.col("mid"),
                        F.col("o_totalprice"),
                    )
                ) * 100
            ).cast("long").alias("s2"),
        )
        .filter(F.col("s1").isNotNull() & F.col("s2").isNotNull())
    )
    cuts = spend.agg(
        F.expr("percentile(s1, array(0.25D, 0.5D, 0.75D))").alias("c1"),
        F.expr("percentile(s2, array(0.25D, 0.5D, 0.75D))").alias("c2"),
    )

    def quart(col, cut):
        return 1 + sum(
            (F.col(col) > F.col(cut)[i]).cast("int") for i in range(3)
        )

    return (
        spend.crossJoin(F.broadcast(cuts))
        .groupBy(
            quart("s1", "c1").alias("q_before"),
            quart("s2", "c2").alias("q_after"),
        )
        .agg(F.count("*").alias("n_customers"))
        .orderBy("q_before", "q_after")
    )


@register(
    "q253_ship_lag_trend",
    """
    SELECT strftime(CAST(o.o_orderdate AS DATE), '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(quantile_cont(
               datediff('day', CAST(o.o_orderdate AS DATE),
                        CAST(l.l_shipdate AS DATE)), 0.50), 2) AS p50_lag,
           round(quantile_cont(
               datediff('day', CAST(o.o_orderdate AS DATE),
                        CAST(l.l_shipdate AS DATE)), 0.90), 2) AS p90_lag
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY month ORDER BY month
    """,
    doc=(
        "Order-to-ship lag percentiles by month — the fulfillment SLA "
        "trend line (a p90 that creeps while p50 holds is the classic "
        "warehouse-saturation signature; q197's histogram shows the "
        "shape, this shows the drift).  Integer day lags, exact "
        "interpolated p50/p90 per month group, one fact-fact equi-join "
        "on the order key.  Scale: the join is the only row-space "
        "shuffle; percentiles aggregate per month group"
    ),
)
def q253(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    j = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li["l_orderkey"] == orders["o_orderkey"],
    ).select(
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM")
        .alias("month"),
        F.datediff(
            F.col("l_shipdate").cast("date"),
            F.col("o_orderdate").cast("date"),
        ).alias("lag"),
    )
    return (
        j.groupBy("month")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.round(F.expr("percentile(lag, 0.5D)"), 2).alias("p50_lag"),
            F.round(F.expr("percentile(lag, 0.9D)"), 2).alias("p90_lag"),
        )
        .orderBy("month")
    )
