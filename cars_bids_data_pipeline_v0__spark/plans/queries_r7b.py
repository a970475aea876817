"""Round-7 continuation batch (q254–q256): training-data governance +
an iterative graph algorithm, all under the DuckDB value-hash gate.

* **q254 benchmark decontamination** — the GPT-3-style eval-overlap
  scrub: find training documents that share word n-grams with a held
  -out benchmark set.  The benchmark side is tiny by construction
  (eval suites are MBs even when the corpus is 100 TB), so its
  inverted shingle index BROADCASTS and the train corpus is scanned
  exactly once with no shuffle of the big side.
* **q255 domain mixture sampling** — temperature-scaled source
  weighting (w_d ∝ n_d^α, the multilingual/DoReMi-style static mix)
  with a deterministic md5-ranked per-domain quota draw.  The window
  is partitioned BY SOURCE — bounded per-group state, never a global
  single-partition exchange.
* **q256 nation-trade PageRank** — 3 damped iterations over the
  customer-nation → supplier-nation revenue graph.  The heavy part is
  the EDGE AGGREGATION (lineitem⋈orders⋈customer⋈supplier⋈nation²,
  one shuffle on the fact); the iterations run on the ≤|nations|²
  aggregated edge table via broadcast joins — iterative graph math
  costs O(edges) per step, and the per-step frames stay tiny, so the
  driver loop stays lazy DataFrame composition (no collect).

Reference parity: none (the reference has no corpus-governance or
graph surface); these extend the LLM-pipeline and analytics families.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..cache import track_persist
from ..operators.dedup_docs import fan_out, word_shingles
from .queries import _t, register

# ---------------------------------------------------------------------------
# q254 — benchmark decontamination (train-side n-gram overlap scrub)
# ---------------------------------------------------------------------------

_Q254_EVAL_MOD = 97     # doc_id % 97 == 0 -> the held-out benchmark set
_Q254_NGRAM = 8         # long shingles: decontamination wants few false hits
_Q254_MIN_HITS = 2      # flag a train doc at >= 2 distinct overlapping grams
_Q254_TRAIN_MOD = 89    # doc_id % 89 == 3 -> train docs carrying the plant
# Planted contamination (the q211 planted-adversarial-input discipline):
# an 11-word phrase appended to every eval doc AND to a small train
# subset, so its 4 interior 8-grams are provably shared and the oracle
# hash certifies a NON-EMPTY flag set — a decontamination gate that has
# only ever certified "nothing overlaps" proves nothing about finding.
_Q254_PLANT = (
    "galvanized zeppelin auditors certify that benchmark overlap "
    "detection actually fires here"
)


@register(
    "q254_benchmark_decontamination",
    f"""
    WITH docs AS (
        SELECT doc_id,
               CASE WHEN doc_id % {_Q254_EVAL_MOD} = 0
                      OR doc_id % {_Q254_TRAIN_MOD} = 3
                    THEN text || ' {_Q254_PLANT}'
                    ELSE text END AS text
        FROM documents
    ), toks AS (
        SELECT doc_id,
               regexp_split_to_array(
                   trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                   '\\s+') AS t
        FROM docs
    ), sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(t) - {_Q254_NGRAM - 1}, 1)),
                   i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
                                  t[i+4], t[i+5], t[i+6], t[i+7]))) AS s
        FROM toks
    ), inv AS (
        SELECT doc_id, unnest(s) AS shingle FROM sh
    ), hits AS (
        SELECT tr.doc_id AS train_id,
               count(DISTINCT tr.shingle) AS n_grams_hit,
               count(DISTINCT ev.doc_id) AS n_eval_docs
        FROM inv tr
        JOIN inv ev USING (shingle)
        WHERE tr.doc_id % {_Q254_EVAL_MOD} != 0
          AND ev.doc_id % {_Q254_EVAL_MOD} = 0
        GROUP BY 1
    )
    SELECT train_id, n_grams_hit, n_eval_docs
    FROM hits
    WHERE n_grams_hit >= {_Q254_MIN_HITS}
    ORDER BY train_id
    """,
    doc=(
        "Benchmark decontamination: flag training documents sharing "
        ">=2 distinct 8-word shingles with the held-out eval split "
        "(doc_id % 97 == 0).  The eval inverted index is tiny and "
        "BROADCAST (genuinely-small eval suites only — a mod-split "
        "'eval' at 100 TB would not broadcast; real benchmarks are "
        "MBs), so the train side is shingled in one narrow scan and "
        "joined map-side — no shuffle of the corpus; output is "
        "per-train-doc distinct (grams, eval docs) hit counts, the "
        "audit table a data curator drops rows from.  A planted "
        "11-word phrase shared between eval docs and a %89 train "
        "subset makes the hash certify FOUND contamination (q211's "
        "planted-input discipline), not just absence"
    ),
)
def q254(spark, sf_dir):
    raw = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            (F.col("doc_id") % _Q254_EVAL_MOD == 0)
            | (F.col("doc_id") % _Q254_TRAIN_MOD == 3),
            F.concat(F.col("text"), F.lit(" " + _Q254_PLANT)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    docs = fan_out(raw)
    # explode-fusion barrier (ARCHITECTURE.md round-9): materialize the
    # shingle ARRAY before exploding — fused explode(word_shingles(text))
    # re-evaluates the builder per output row; the persisted frame also
    # feeds BOTH the train and eval branches from one corpus scan
    sh_arr = track_persist(
        docs.select("doc_id", word_shingles("text", _Q254_NGRAM).alias("sh"))
    )
    inv = sh_arr.select("doc_id", F.explode("sh").alias("shingle"))
    train = inv.where(F.col("doc_id") % _Q254_EVAL_MOD != 0)
    ev = inv.where(F.col("doc_id") % _Q254_EVAL_MOD == 0)
    hits = (
        train.join(F.broadcast(ev.withColumnRenamed("doc_id", "eval_id")),
                   "shingle")
        .groupBy(F.col("doc_id").alias("train_id"))
        .agg(
            F.countDistinct("shingle").alias("n_grams_hit"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )
    return hits.where(F.col("n_grams_hit") >= _Q254_MIN_HITS).orderBy("train_id")


# ---------------------------------------------------------------------------
# q255 — temperature-scaled domain mixture with deterministic quota draw
# ---------------------------------------------------------------------------

_Q255_ALPHA = 0.5       # temperature: upsample small domains, tame big ones
_Q255_BUDGET = 1000     # total docs in the drawn mixture


@register(
    "q255_domain_mixture_sample",
    f"""
    WITH stats AS (
        SELECT source, count(*) AS n_docs,
               pow(count(*), {_Q255_ALPHA}) AS m
        FROM documents GROUP BY source
    ), wts AS (
        SELECT source, n_docs,
               m / (SELECT sum(m) FROM stats) AS w
        FROM stats
    ), quota AS (
        SELECT source, n_docs,
               round(w, 6) AS weight,
               CAST(round(w * {_Q255_BUDGET}) AS BIGINT) AS quota
        FROM wts
    ), ranked AS (
        SELECT source, doc_id,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(text), doc_id) AS rk
        FROM documents
    ), sel AS (
        SELECT r.source,
               count(*) AS sel_docs,
               sum(r.doc_id) AS sel_id_sum
        FROM ranked r JOIN quota q USING (source)
        WHERE r.rk <= q.quota
        GROUP BY 1
    )
    SELECT q.source, q.n_docs, q.weight, q.quota,
           coalesce(s.sel_docs, 0) AS sel_docs,
           CAST(coalesce(s.sel_id_sum, 0) AS BIGINT) AS sel_id_sum
    FROM quota q LEFT JOIN sel s USING (source)
    ORDER BY q.source
    """,
    doc=(
        "Temperature-scaled domain mixture (w_d ∝ n_d^0.5, the "
        "multilingual-sampling exponent) with a DETERMINISTIC draw: "
        "each source contributes its quota of the 1000-doc budget, "
        "members chosen by md5(text) rank — reproducible across "
        "engines and reruns, no RNG.  The rank window partitions BY "
        "SOURCE (bounded per-group state); at 100 TB the draw is one "
        "narrow scan + one per-domain top-quota, and the weight "
        "table is |domains| rows, broadcast back onto the ranked scan"
    ),
)
def q255(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.pow(F.count("*"), F.lit(_Q255_ALPHA)).alias("m"),
    )
    total_m = stats.agg(F.sum("m").alias("tm"))
    quota = (
        stats.crossJoin(F.broadcast(total_m))
        .select(
            "source",
            "n_docs",
            F.round(F.col("m") / F.col("tm"), 6).alias("weight"),
            F.round(F.col("m") / F.col("tm") * _Q255_BUDGET, 0)
            .cast("long").alias("quota"),
        )
    )
    ranked = docs.select(
        "source",
        "doc_id",
        F.row_number()
        .over(Window.partitionBy("source").orderBy(F.md5("text"), "doc_id"))
        .alias("rk"),
    )
    sel = (
        ranked.join(F.broadcast(quota.select("source", "quota")), "source")
        .where(F.col("rk") <= F.col("quota"))
        .groupBy("source")
        .agg(
            F.count("*").alias("sel_docs"),
            F.sum("doc_id").alias("sel_id_sum"),
        )
    )
    return (
        quota.join(sel, "source", "left")
        .select(
            "source",
            "n_docs",
            "weight",
            "quota",
            F.coalesce("sel_docs", F.lit(0)).alias("sel_docs"),
            F.coalesce("sel_id_sum", F.lit(0)).cast("long")
            .alias("sel_id_sum"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q256 — damped PageRank over the nation-level trade graph
# ---------------------------------------------------------------------------

_Q256_D = 0.85
_Q256_ITERS = 3


def _q256_oracle() -> str:
    """Unrolled 3-iteration PageRank as chained CTEs (DuckDB has no
    iterative driver; the unroll IS the spec both engines share)."""
    edges = """
    WITH rev AS (
        SELECT cn.n_name AS src, sn.n_name AS dst,
               sum(l_extendedprice * (1 - l_discount)) AS w
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        GROUP BY 1, 2
    ), outw AS (
        SELECT src, sum(w) AS ow FROM rev GROUP BY 1
    ), norm AS (
        SELECT rev.src, rev.dst, rev.w / outw.ow AS p
        FROM rev JOIN outw USING (src)
    ), nn AS (
        SELECT CAST(count(*) AS DOUBLE) AS n FROM nation
    ), r0 AS (
        SELECT n_name, 1.0 / nn.n AS r FROM nation, nn
    )"""
    prev = "r0"
    steps = []
    for k in range(1, _Q256_ITERS + 1):
        steps.append(f""", r{k} AS (
        SELECT nation.n_name,
               (1 - {_Q256_D}) / nn.n
               + {_Q256_D} * coalesce(c.s, 0) AS r
        FROM nation
        CROSS JOIN nn
        LEFT JOIN (
            SELECT norm.dst AS n_name, sum({prev}.r * norm.p) AS s
            FROM {prev} JOIN norm ON {prev}.n_name = norm.src
            GROUP BY 1
        ) c USING (n_name)
    )""")
        prev = f"r{k}"
    return (
        edges
        + "".join(steps)
        + f"""
    SELECT n_name, round(r, 6) AS pagerank
    FROM {prev}
    ORDER BY pagerank DESC, n_name
    """
    )


@register(
    "q256_nation_trade_pagerank",
    _q256_oracle(),
    doc=(
        "Damped PageRank (d=0.85, 3 iterations) over the customer-"
        "nation -> supplier-nation revenue graph.  The only heavy "
        "stage is the edge aggregation — one shuffle of lineitem "
        "after broadcast star joins; iterations then run on the "
        "<=|nations|^2 edge table with broadcast joins, so each "
        "step is O(edges) metadata-sized work and the 'iterative "
        "algorithm on Spark' shape stays a lazy DataFrame loop, "
        "no driver-side collect of graph state"
    ),
)
def q256(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")

    cn = nation.select(
        F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("src")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("dst")
    )
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cnk"))
        .join(F.broadcast(supp.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("snk"))
        .groupBy("src", "dst")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("w"))
    )
    outw = rev.groupBy("src").agg(F.sum("w").alias("ow"))
    # persisted: each of the 3 iterations re-reads the edge table, and
    # without the cache every step would re-run the lineitem aggregation
    # (build-scoped — released by the harness via release_build_caches)
    norm = track_persist(
        rev.join(outw, "src")
        .select("src", "dst", (F.col("w") / F.col("ow")).alias("p"))
    )

    nodes = nation.select("n_name")
    n_nodes = float(nodes.count())  # bounded scalar: |nations|

    ranks = nodes.select("n_name", F.lit(1.0 / n_nodes).alias("r"))
    for _ in range(_Q256_ITERS):
        contrib = (
            F.broadcast(ranks)
            .join(norm, ranks.n_name == norm.src)
            .groupBy(F.col("dst").alias("n_name"))
            .agg(F.sum(F.col("r") * F.col("p")).alias("s"))
        )
        ranks = nodes.join(F.broadcast(contrib), "n_name", "left").select(
            "n_name",
            (F.lit((1 - _Q256_D) / n_nodes)
             + _Q256_D * F.coalesce(F.col("s"), F.lit(0.0))).alias("r"),
        )
    return ranks.select(
        "n_name", F.round("r", 6).alias("pagerank")
    ).orderBy(F.desc("pagerank"), "n_name")


# ---------------------------------------------------------------------------
# q257 — column mapping lifecycle (RENAME + UPDATE + DROP + append), audited
# ---------------------------------------------------------------------------


def _q257_oracle() -> str:
    return """
    WITH final AS (
        SELECT p_brand,
               CASE WHEN p_size > 25 THEN p_retailprice + 50.0
                    ELSE p_retailprice END AS price
        FROM part WHERE p_partkey % 3 = 0
        UNION ALL
        SELECT p_brand, p_retailprice AS price
        FROM part WHERE p_partkey % 3 = 1
    )
    SELECT p_brand,
           count(*) AS n_parts,
           round(sum(price), 2) AS total_price
    FROM final GROUP BY p_brand ORDER BY p_brand
    """


@register(
    "q257_column_mapping_audit",
    _q257_oracle(),
    doc=(
        "Column mapping under the value-hash gate: the builder appends "
        "part (p_partkey %% 3 = 0) into a brand-partitioned txlog "
        "table, RENAMES p_retailprice -> price (one metadata commit; "
        "physical parquet names never change), UPDATEs price + 50 "
        "WHERE p_size > 25 through the LOGICAL name, DROPs p_type "
        "(metadata-only), then appends a second batch carrying the "
        "post-rename/post-drop logical schema — and the per-brand "
        "(count, total) read back must equal DuckDB's CASE-derived end "
        "state over the raw source.  The hash therefore covers "
        "physical->logical read translation, logical->physical write "
        "staging, logical DML predicate resolution, and the "
        "schema-contract swap to the mapped schema "
        "(sources/txlog.py::tx_rename_column, tx_drop_column, "
        "stage_dataframe, _map_to_logical).  Scale: a rename or drop "
        "is a KB of JSON at any table size — never a rewrite"
    ),
)
def q257(spark, sf_dir):
    from ..sources.txlog import (
        TransactionLog,
        tx_append_partitioned,
        tx_drop_column,
        tx_read,
        tx_rename_column,
        tx_update_where,
    )
    from .queries_r7 import _scratch_path

    part = _t(spark, sf_dir, "part")
    path = _scratch_path(sf_dir, "q257", "part")
    log = TransactionLog(path)
    if log.version() < 0:
        tx_append_partitioned(
            spark,
            part.filter(F.col("p_partkey") % 3 == 0),
            path,
            partition_by="p_brand",
            txn={"app": "q257", "batch": 0},
        )
    if log.version() < 1:
        tx_rename_column(spark, path, "p_retailprice", "price")
    if log.version() < 3:  # update commits only when rows matched
        tx_update_where(spark, path, {"price": "price + 50.0"}, "p_size > 25")
    if log.version() < 4:
        tx_drop_column(spark, path, "p_type")
    if log.version() < 5:
        batch1 = (
            part.filter(F.col("p_partkey") % 3 == 1)
            .withColumnRenamed("p_retailprice", "price")
            .drop("p_type")
        )
        tx_append_partitioned(
            spark, batch1, path,
            partition_by="p_brand",
            txn={"app": "q257", "batch": 1},
        )
    return (
        tx_read(spark, path)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.sum("price"), 2).alias("total_price"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# q258 — partition evolution lifecycle (spec change + migration), audited
# ---------------------------------------------------------------------------


def _q258_oracle() -> str:
    return """
    SELECT c_mktsegment,
           'c_nationkey' AS layout_cols,
           count(*) AS n_customers,
           round(sum(c_acctbal), 2) AS total_balance
    FROM customer
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """


@register(
    "q258_partition_evolution_audit",
    _q258_oracle(),
    doc=(
        "Partition evolution under the value-hash gate: the builder "
        "appends half of customer laid out by c_mktsegment, DECLARES "
        "the spec as c_nationkey (one metadata commit, no rewrite), "
        "spec-default-appends the other half (no partition_by at the "
        "call site), then compacts — which MIGRATES the old-era files "
        "into the declared layout.  The audit returns the per-segment "
        "(count, balance) over the full table plus the live layout-"
        "column set from DESCRIBE DETAIL, so the hash covers the "
        "spec-defaulted write, mixed-layout reads, and the migration "
        "itself (sources/txlog.py::tx_set_partition_spec, tx_compact, "
        "TransactionLog.partition_spec).  Scale: re-laying a 100 TB "
        "table becomes an opportunistic compaction side effect instead "
        "of a big-bang rewrite"
    ),
)
def q258(spark, sf_dir):
    from ..sources.txlog import (
        TransactionLog,
        tx_append_partitioned,
        tx_compact,
        tx_detail,
        tx_read,
        tx_set_partition_spec,
    )
    from .queries_r7 import _scratch_path

    cust = _t(spark, sf_dir, "customer")
    path = _scratch_path(sf_dir, "q258", "customer")
    log = TransactionLog(path)
    if log.version() < 0:
        tx_append_partitioned(
            spark,
            cust.filter(F.col("c_custkey") % 2 == 0),
            path,
            partition_by="c_mktsegment",
            txn={"app": "q258", "batch": 0},
        )
    if log.version() < 1:
        tx_set_partition_spec(spark, path, "c_nationkey")
    if log.version() < 2:
        # spec-defaulted: the declared layout, zero writer code change
        tx_append_partitioned(
            spark,
            cust.filter(F.col("c_custkey") % 2 == 1),
            path,
            txn={"app": "q258", "batch": 1},
        )
    if log.version() < 3:
        tx_compact(spark, path)  # migrates the c_mktsegment era
    layout = ",".join(tx_detail(path)["partition_cols"])
    return (
        tx_read(spark, path)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
        )
        .select(
            "c_mktsegment",
            F.lit(layout).alias("layout_cols"),
            "n_customers",
            "total_balance",
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# q259 — ADD COLUMN lifecycle (declare + default fill + supplied + DML)
# ---------------------------------------------------------------------------


def _q259_oracle() -> str:
    return """
    WITH final AS (
        SELECT lang,
               CASE WHEN n_chars > 300 THEN 'long' ELSE 'legacy' END AS tier,
               n_chars
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT lang, 'fresh' AS tier, n_chars
        FROM documents WHERE doc_id % 2 = 1
    )
    SELECT lang, tier,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM final GROUP BY lang, tier ORDER BY lang, tier
    """


@register(
    "q259_add_column_audit",
    _q259_oracle(),
    doc=(
        "ADD COLUMN under the value-hash gate: the builder appends half "
        "of documents into a lang-partitioned txlog table, DECLARES "
        "tier string DEFAULT 'legacy' (one metadata commit, zero "
        "rewrites), appends the other half SUPPLYING tier='fresh' "
        "(mixed per-file presence — the footer-grouped fill must keep "
        "stored values and default only the pre-add files), then "
        "UPDATEs tier='long' WHERE n_chars > 300 AND tier = 'legacy' — "
        "a DML predicate over the declared column that only the filled "
        "view can resolve.  The per-(lang, tier) counts and char totals "
        "must equal DuckDB's CASE-derived end state "
        "(sources/txlog.py::tx_add_column, _scan, _fill_addenda).  "
        "Scale: the add costs a KB of JSON; "
        "the fill is a per-group projection behind the scan"
    ),
)
def q259(spark, sf_dir):
    from ..sources.txlog import (
        TransactionLog,
        tx_add_column,
        tx_append_partitioned,
        tx_read,
        tx_update_where,
    )
    from .queries_r7 import _scratch_path

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    path = _scratch_path(sf_dir, "q259", "documents")
    log = TransactionLog(path)
    if log.version() < 0:
        tx_append_partitioned(
            spark,
            docs.filter(F.col("doc_id") % 2 == 0),
            path,
            partition_by="lang",
            txn={"app": "q259", "batch": 0},
        )
    if log.version() < 1:
        tx_add_column(spark, path, "tier", "string", default="'legacy'")
    if log.version() < 2:
        tx_append_partitioned(
            spark,
            docs.filter(F.col("doc_id") % 2 == 1)
            .withColumn("tier", F.lit("fresh")),
            path,
            partition_by="lang",
            txn={"app": "q259", "batch": 1},
        )
    if log.version() < 3:
        tx_update_where(
            spark, path, {"tier": "'long'"},
            "n_chars > 300 AND tier = 'legacy'",
        )
    return (
        tx_read(spark, path)
        .groupBy("lang", "tier")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang", "tier")
    )


# ---------------------------------------------------------------------------
# q260 — type-widening lifecycle (declare + mixed eras + DML migration)
# ---------------------------------------------------------------------------


def _q260_oracle() -> str:
    return """
    WITH final AS (
        SELECT p_brand,
               CASE WHEN p_partkey % 4 = 0 THEN p_size + 1000000
                    ELSE p_size END AS sz
        FROM part WHERE p_partkey % 2 = 0
        UNION ALL
        SELECT p_brand, p_size AS sz FROM part WHERE p_partkey % 2 = 1
    )
    SELECT p_brand,
           count(*) AS n_parts,
           CAST(sum(sz) AS BIGINT) AS total_size
    FROM final GROUP BY p_brand ORDER BY p_brand
    """


@register(
    "q260_type_widening_audit",
    _q260_oracle(),
    doc=(
        "ALTER COLUMN TYPE (lossless widening) under the value-hash "
        "gate: the builder appends half of part with its native int "
        "p_size, widens p_size to bigint (one metadata commit — files "
        "keep their int32 footers), appends the other half born wide, "
        "then UPDATEs p_size + 1000000 for p_partkey %% 4 = 0 — DML "
        "over the mixed-era view, whose rewrite migrates the touched "
        "narrow files.  Per-brand counts and bigint sums must equal "
        "DuckDB's CASE-derived end state "
        "(sources/txlog.py::tx_widen_column, _scan, _apply_widening, "
        "_group_files_by_schema_sig).  Scale: widening a 100 TB "
        "table's key column is a KB of JSON, and data skipping "
        "survives because stats and directory values are "
        "numeric/str-normalized"
    ),
)
def q260(spark, sf_dir):
    from ..sources.txlog import (
        TransactionLog,
        tx_append_partitioned,
        tx_read,
        tx_update_where,
        tx_widen_column,
    )
    from .queries_r7 import _scratch_path

    part = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    path = _scratch_path(sf_dir, "q260", "part")
    log = TransactionLog(path)
    if log.version() < 0:
        tx_append_partitioned(
            spark,
            part.filter(F.col("p_partkey") % 2 == 0),
            path,
            partition_by="p_brand",
            txn={"app": "q260", "batch": 0},
        )
    if log.version() < 1:
        tx_widen_column(spark, path, "p_size", "bigint")
    if log.version() < 2:
        tx_append_partitioned(
            spark,
            part.filter(F.col("p_partkey") % 2 == 1)
            .withColumn("p_size", F.col("p_size").cast("bigint")),
            path,
            partition_by="p_brand",
            txn={"app": "q260", "batch": 1},
        )
    if log.version() < 3:
        tx_update_where(
            spark, path, {"p_size": "p_size + 1000000"},
            "p_partkey % 4 = 0",
        )
    return (
        tx_read(spark, path)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("p_size").alias("total_size"),
        )
        .orderBy("p_brand")
    )
