"""Physical-plan audits: the properties that decide 100 TB behavior.

Correctness gates (oracle, unit tests) don't notice when a filter stops
reaching the parquet scan or a dimension join silently becomes a
sort-merge shuffle — these tests pin the plan shapes themselves.
`.explain` only analyzes/optimizes (nothing executes), so they're cheap.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from cars_bids_data_pipeline_v0__spark.plans import queries as Q

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def registry():
    Q._load_extensions()
    return Q.REGISTRY


@pytest.fixture(scope="module")
def registry_plans(spark, registry):
    """``{name: (output schema, formatted plan)}`` for every registry
    query, each built once for the registry-wide audits; caches are
    cleared between builds so no build sees another's persisted frames."""
    from cars_bids_data_pipeline_v0__spark.cache import release_build_caches

    out = {}
    for name, spec in sorted(registry.items()):
        df = spec.builder(spark, SF)
        out[name] = (df.schema, plan_of(df))
        spark.catalog.clearCache()
        release_build_caches()
    return out


def test_q01_pushes_filter_and_prunes_columns(spark, registry):
    plan = plan_of(registry["q01_pricing_summary"].builder(spark, SF))
    assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan
    # the scan must not read the whole 11-column lineitem row
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read and "l_partkey" not in read
    assert "l_quantity" in read


def test_small_dimensions_broadcast_not_shuffle(spark, registry):
    for name in ["q02_revenue_by_nation", "q13_star_fact_assembly"]:
        plan = plan_of(registry[name].builder(spark, SF))
        assert "BroadcastHashJoin" in plan, name
    # q02's only joins are dim joins — no sort-merge exchange at all
    assert "SortMergeJoin" not in plan_of(
        registry["q02_revenue_by_nation"].builder(spark, SF)
    )


def test_headline_queries_stay_jvm_side_no_cartesian(spark, registry):
    # (WholeStageCodegen ids only appear in post-execution AQE plans, so
    # the pinnable invariants are: no row-at-a-time Python eval in the
    # hot path, no cartesian products.)
    for name in [
        "q01_pricing_summary",
        "q02_revenue_by_nation",
        "q03_order_priority_counts",
        "q10_keep_latest_order_per_customer",
        "q52_exact_dup_groups",
        "q59_corpus_quality_gate",
    ]:
        plan = plan_of(registry[name].builder(spark, SF))
        assert "BatchEvalPython" not in plan, name  # no row-wise Python UDF
        assert "CartesianProduct" not in plan, name


def test_bloom_prefilter_sits_on_the_scan_side(spark, registry):
    plan = plan_of(registry["q96_bloom_semi_join"].builder(spark, SF))
    assert "bit_get" in plan  # sketch probe survived optimization
    assert "LeftSemi" in plan  # exactness join still present
    # the semi-join is a broadcast, so lineitem is never shuffle-exchanged
    assert "SortMergeJoin" not in plan


def test_surrogate_keys_never_use_a_global_window(spark):
    from cars_bids_data_pipeline_v0__spark.operators.keys import (
        with_surrogate_key,
    )

    df = spark.range(0, 1000).select(
        (F.col("id") % 97).alias("k"), F.col("id").alias("v")
    )
    for np in (None, 1):
        out = with_surrogate_key(df, ["k", "v"], num_partitions=np)
        plan = plan_of(out)
        for line in plan.splitlines():
            if "windowspecdefinition" in line:
                assert "__sk_pid" in line, line  # always partitioned


def test_chunking_is_a_narrow_map(spark, registry):
    plan = plan_of(registry["q97_chunk_documents"].builder(spark, SF))
    assert "Exchange" not in plan  # generator fan-out, zero shuffles


def _global_window_specs(plan: str) -> list[str]:
    """windowspecdefinition argument lists with NO partition columns.

    In formatted plans a spec reads ``windowspecdefinition(part1, part2,
    ord1 ASC ..., specifiedwindowframe(...))`` — partition columns come
    first and carry no sort direction.  A spec whose every pre-frame
    argument has ASC/DESC (or that starts directly with the frame) is a
    GLOBAL window: Catalyst plans it as Exchange SinglePartition over its
    whole input.

    Parsed with a balanced-paren scanner and a TOP-LEVEL comma split —
    a naive ``[^)]*`` capture stops at the first ')' and misclassifies
    any spec whose sort key is a function expression (``round(x, 2)
    ASC``), which would let exactly the plan shape this audit exists to
    forbid slip through."""
    out = []
    needle = "windowspecdefinition("
    start = 0
    while True:
        i = plan.find(needle, start)
        if i < 0:
            break
        j = i + len(needle)
        depth = 1
        while j < len(plan) and depth:
            if plan[j] == "(":
                depth += 1
            elif plan[j] == ")":
                depth -= 1
            j += 1
        args = plan[i + len(needle): j - 1]
        start = j
        # split on top-level commas only
        parts, buf, depth = [], [], 0
        for ch in args:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                parts.append("".join(buf).strip())
                buf = []
            else:
                buf.append(ch)
        if buf:
            parts.append("".join(buf).strip())
        head = [
            p for p in parts if not p.startswith("specifiedwindowframe")
        ]
        if not head or all(
            p.endswith(("ASC NULLS FIRST", "ASC NULLS LAST",
                        "DESC NULLS FIRST", "DESC NULLS LAST"))
            for p in head
        ):
            out.append(args)
    return out


def test_global_window_parser_handles_function_sort_keys(spark):
    # regression for the scanner itself: a global window ordered by a
    # FUNCTION expression must still be detected, and a keyed window
    # with a function sort key must not be a false positive
    from pyspark.sql import Window

    df = spark.range(10).withColumn("x", F.col("id") * 1.5)
    g = df.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.round(F.col("x"), 2))),
    )
    assert _global_window_specs(plan_of(g)), "global fn-key window missed"
    k = df.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("id").orderBy(F.round(F.col("x"), 2))
        ),
    )
    assert not _global_window_specs(plan_of(k)), "keyed window flagged"


# Global rank/ntile windows funnel their ENTIRE input through one task —
# the one plan shape that cannot survive a 100× scale-up.  As of round 4
# NO registered query carries one (q38 and q159 were rewritten onto the
# range-partitioned two-phase rank assigner; q155/q157/q161's top-k
# windows became orderBy+limit); additions here need a documented
# distributed twin or escape hatch.
_DOCUMENTED_GLOBAL_WINDOWS: set[str] = set()


def test_no_undocumented_global_windows_anywhere(registry_plans):
    offenders = []
    for name, (_, plan) in registry_plans.items():
        if _global_window_specs(plan) and name not in _DOCUMENTED_GLOBAL_WINDOWS:
            offenders.append(name)
    assert offenders == [], f"global (single-partition) windows in: {offenders}"


# --- lambda re-evaluation audit (ARCHITECTURE.md round-9/round-10) ---------
#
# An element access (slice/element_at/substr) INSIDE A LAMBDA BODY whose
# first argument is an inlined expression (not a bare attribute or a
# bound lambda variable) re-evaluates that expression once per lambda
# ITERATION.  Measured three times: the round-9 explode-fusion fix
# (50 s → 3.5 s at sf1), the round-10 generator probes (80.9 s bigram /
# 20.2 s 3-gram vs sub-second with a barrier), and the round-10
# word_shingles projection fix (53 s → 7 s materializing the sf1
# shingle table — the tax needs no Generate at all; a transform lambda
# slicing an inlined tokenize chain in a plain Project pays it too).
# Linear shapes are fine: explode(filter(split(text))) evaluates once
# per input row, and element access over a bare attribute or a bound
# lambda variable costs nothing.  Two fixes: persist the array and
# explode/consume the attribute (track_persist), or let-bind the
# expensive input through a single-element transform so inner lambdas
# read a bound variable (word_shingles, pq._subvectors).
_DOCUMENTED_FUSED_GENERATES: set[str] = set()

_ELEMENT_ACCESS = ("slice(", "element_at(", "substr(")


def _balanced_span(text: str, start: int) -> str:
    """Contents of the paren group opening at ``start`` (index of the
    char right AFTER the '(')."""
    j = start
    depth = 1
    while j < len(text) and depth:
        if text[j] == "(":
            depth += 1
        elif text[j] == ")":
            depth -= 1
        j += 1
    return text[start: j - 1]


def _first_top_level_arg(args: str) -> str:
    depth = 0
    for i, ch in enumerate(args):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            return args[:i]
    return args


def _fused_generate_offenses(plan: str) -> list[str]:
    """Element-access calls INSIDE A LAMBDA BODY — anywhere in the plan
    — whose first argument is an expression (contains a call) rather
    than a bare attribute or bound lambda variable.  Only lambda bodies
    matter: a top-level ``slice(chain, 1, n)`` evaluates its input once
    per input row (inherent cost), but inside ``transform``'s lambda
    the chain is re-evaluated once per ITERATION — the measured
    quadratic tax."""
    import re

    out = []
    for lm in re.finditer(r"lambdafunction\(", plan):
        body = _balanced_span(plan, lm.end())
        for fn in _ELEMENT_ACCESS:
            start = 0
            while True:
                i = body.find(fn, start)
                if i < 0:
                    break
                start = i + len(fn)
                # word boundary: don't match regexp_substr( etc.
                if i > 0 and (body[i - 1].isalnum() or body[i - 1] in "_."):
                    continue
                first = _first_top_level_arg(
                    _balanced_span(body, i + len(fn))
                )
                if "(" in first:
                    out.append(f"{fn}{first[:120]}")
    return out


def test_fused_generate_detector_on_known_shapes(spark):
    # the detector must catch the measured-pathological shape and pass
    # the measured-linear ones (round-10 probes A/B/E/F)
    df = spark.range(10).select(
        F.concat_ws(
            " ", F.col("id").cast("string"), F.lit("a b c d")
        ).alias("text")
    )
    sl = F.split(F.lower("text"), r"\s+")
    bad = df.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(sl) - 2),
                lambda i: F.array_join(F.slice(sl, i, 3), " "),
            )
        ).alias("g")
    )
    assert _fused_generate_offenses(plan_of(bad)), "pathological shape missed"

    ok1 = df.select(F.explode(sl).alias("g"))  # linear: no element access
    assert not _fused_generate_offenses(plan_of(ok1))
    arr = df.select(sl.alias("t"))
    ok2 = arr.select(  # element access over a bare attribute: free
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 2),
                lambda i: F.array_join(F.slice(F.col("t"), i, 3), " "),
            )
        ).alias("g")
    )
    assert not _fused_generate_offenses(plan_of(ok2))


def test_no_fused_heavy_generates_anywhere(registry_plans):
    offenders = []
    for name, (_, plan) in registry_plans.items():
        bad = _fused_generate_offenses(plan)
        if bad and name not in _DOCUMENTED_FUSED_GENERATES:
            offenders.append((name, bad[0]))
    assert offenders == [], (
        "generator args re-evaluate an inlined derivation per element "
        f"(persist the array, explode the attribute): {offenders}"
    )


def test_registry_output_schemas_are_flat(registry_plans):
    # The driver's correctness gate canonicalizes results through pandas
    # and hashes row values; array/map/struct columns are unhashable
    # there (round-4 driver errs on q83/q94).  Every registered query
    # must therefore emit only atomic-typed columns — set-valued results
    # get array_join()'d to a deterministic scalar inside the query.
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = []
    for name, (schema, _) in registry_plans.items():
        bad = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders.append((name, bad))
    assert offenders == [], f"complex-typed output columns in: {offenders}"


def test_build_caches_released_after_query_builds(spark, registry):
    # Builders persist() subframes that feed multiple downstream branches;
    # the frames are registered via cache.track/track_persist so consumers
    # can release EXACTLY those blocks once the result is materialized —
    # without nuking user-owned caches the way clearCache() does.
    from cars_bids_data_pipeline_v0__spark.cache import (
        release_build_caches,
        tracked_count,
    )

    spark.catalog.clearCache()
    release_build_caches()
    # persist-heavy representatives: inverted-index dedup, LSH, bigram LM
    for name in [
        "q53_ngram_jaccard_pairs",
        "q56_minhash_lsh_near_dup",
        "q153_bigram_perplexity",
    ]:
        registry[name].builder(spark, SF).count()
    assert tracked_count() > 0, "builders no longer track their persists"
    release_build_caches()
    assert tracked_count() == 0
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "persisted blocks leaked past release_build_caches"


def test_driver_window_rotation_is_automatic_and_hash_checkable(
    registry, monkeypatch
):
    # the driver hash-checks the FIRST 50 queries(); rotation must front
    # exactly the oracled queries with no hash evidence yet, in stable
    # registration order, and never burn a slot on a rows-only entry.
    # RULE: never read the live CORRECTNESS_r*.json artifacts here — the
    # driver mutates them every round, so any assertion pinned to their
    # current contents self-invalidates (the round-5 failure).  Freeze
    # ``_driver_proven`` to a fixture set and assert only invariants.
    from cars_bids_data_pipeline_v0__spark.plans import queries as Q

    oracled = [n for n in Q.REGISTRY if Q.REGISTRY[n].oracle]
    frozen = set(oracled[:60])  # pretend the first 60 are driver-proven
    monkeypatch.setattr(Q, "_driver_proven", lambda: frozen)

    front = Q._least_proven_front()
    assert len(front) == 50
    assert front == Q._least_proven_front()  # deterministic
    assert all(Q.REGISTRY[n].oracle for n in front)  # no rows-only slots
    assert not (set(front) & frozen)  # disjoint from proven
    # fronts the OLDEST unproven oracled queries, in registration order
    expected = [n for n in oracled if n not in frozen][:50]
    assert front == expected
    # the full order is front + everything else, nothing lost
    order = Q._driver_order()
    assert order[:50] == front
    assert sorted(order) == sorted(Q.REGISTRY)


def test_driver_window_cycles_when_everything_is_proven(monkeypatch):
    from cars_bids_data_pipeline_v0__spark.plans import queries as Q

    oracled = [n for n in Q.REGISTRY if Q.REGISTRY[n].oracle]
    monkeypatch.setattr(Q, "_driver_proven", lambda: set(oracled))
    front = Q._least_proven_front()
    assert len(front) == 50
    assert set(front) <= set(oracled)


# --- inverted-index join discipline (round-12, VERDICT r11 directive 3) ----

# Registry queries allowed to join a shingle-keyed inverted index WITHOUT
# a df-cap scrub visible in the plan, each with the reason the uncapped
# join is bounded (or is the oracled exact spec).  Everything else that
# joins on a shingle key must carry the cap (a broadcast LeftAnti against
# the hot-shingle set, dedup_docs.py::_drop_hot_shingles) — a stopword
# 3-gram shared by 1% of a 100 TB corpus makes an uncapped shingle join
# O(df²) and job-killing (q295 shipped exactly this in round 11).
_DOCUMENTED_UNCAPPED_SHINGLE_JOINS: dict[str, str] = {
    "q53_ngram_jaccard_pairs": (
        "exact all-pairs Jaccard IS the oracled spec; q211 is the capped "
        "production twin"
    ),
    "q131_containment_pairs": (
        "exact containment over the full index is the oracled spec; "
        "production callers use q211 (capped) or q180 (prefix-filtered)"
    ),
    "q130_boilerplate_exposure": (
        "LeftOuter against the per-group HOT-shingle aggregate — the "
        "joined side is the heavy-hitter set itself, bounded by "
        "construction"
    ),
    "q81_benchmark_decontamination": (
        "corpus × broadcast BENCHMARK shingles — per-shingle fan-out is "
        "df_corpus × df_bench with a fixed, tiny benchmark side"
    ),
    "q254_benchmark_decontamination": (
        "same shape as q81 at release scale: benchmark side is bounded"
    ),
    "q140_source_overlap_matrix": (
        "per-source shingle profiles joined source × source — fan-out "
        "is |sources|² per shingle, and |sources| is a config-sized enum"
    ),
    "q290_eval_holdout_split": (
        "train × EVAL-SAMPLE semi-join (1-in-20 hash sample), never "
        "train × train; AQE picks broadcast vs shuffled semi by size "
        "(round-11 VERDICT read and approved this plan)"
    ),
    "q165_dedup_incoming_batch": (
        "INCOMING × released only — the incoming batch side is "
        "delta-sized by contract, never corpus × corpus"
    ),
}

_JOIN_HDR = __import__("re").compile(r"^\(\d+\)\s+(\w*Join\w*)")
_KEYS_RE = __import__("re").compile(
    r"Left keys \[\d+\]: \[([^\]]*)\].*?"
    r"Right keys \[\d+\]: \[([^\]]*)\].*?Join type: (\w+)",
    __import__("re").DOTALL,
)


def _shingle_joins(plan: str) -> tuple[list[str], bool]:
    """(non-anti join descriptions keyed on a shingle column, whether the
    plan carries a shingle-keyed LeftAnti cap scrub)."""
    lines = plan.splitlines()
    hits, has_anti = [], False
    for i, line in enumerate(lines):
        if not _JOIN_HDR.match(line.strip()):
            continue
        ctx = " ".join(x.strip() for x in lines[i : i + 8])
        m = _KEYS_RE.search(ctx)
        if not m:
            continue
        left, right, jtype = m.groups()
        if "shingle#" in left and "shingle#" in right:
            if jtype == "LeftAnti":
                has_anti = True
            else:
                hits.append(f"{jtype} on shingle: {ctx[:120]}")
    return hits, has_anti


def test_shingle_joins_capped_or_documented(registry_plans):
    offenders = []
    for name, (_, plan) in registry_plans.items():
        hits, has_anti = _shingle_joins(plan)
        if hits and not has_anti and name not in (
            _DOCUMENTED_UNCAPPED_SHINGLE_JOINS
        ):
            offenders.append((name, hits[0]))
    assert offenders == [], (
        "shingle-keyed join without a df-cap scrub (broadcast LeftAnti "
        "against the hot set) and not documented in "
        f"_DOCUMENTED_UNCAPPED_SHINGLE_JOINS: {offenders}"
    )
