"""Graph analytics over relational event data.

The reference has no graph surface; this generalizes its
entity-relationship theme (users acting on shared days) into
co-occurrence graphs and the kernels computed over them — PageRank
(entity importance for sampling weights) and common-neighbor link
prediction (recommendation candidates) — expressed as DataFrame joins
and aggregations so Catalyst plans them like any other query.
Connected components lives in operators/dedup.connected_components.

Scale notes
-----------
- Wedge enumeration (co-occurrence pairs, common neighbors) is
  quadratic in the context / apex size; every entry point takes a hub
  cap that DROPS oversized contexts or apexes whole and logs the drop
  count at WARNING.
- PageRank and the link-prediction scores run in FIXED-POINT integer
  arithmetic (scaled by 10^12, floor division): additions and
  divisions on positive BIGINTs are exactly reproducible across
  engines and partitionings, so an iterative algorithm — normally
  hostile to cross-engine value hashing — gates EXACTLY against an
  unrolled SQL oracle. Precision loss vs float is ~1e-12 per op,
  irrelevant for ranking.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cyborgdb_encrypted_vector_search_spark.caching import track

log = logging.getLogger(__name__)

RANK_SCALE = 1_000_000_000_000  # 10^12 fixed-point rank units


def _wedge_width(df: DataFrame) -> int:
    """Partition width for explicit wedge-stream repartitions — the
    AQE-coalesce escape hatch (AQE sizes post-shuffle reads by bytes
    and cannot see a join's fan-out, so it serializes CPU-dense wedge
    stages; see weighted_link_scores). Width comes from
    ``spark.sql.shuffle.partitions`` — the knob the user already sizes
    to the cluster's reduce width — NOT from defaultParallelism, which
    under dynamic allocation reflects only the executors alive at plan
    time and silently under-parallelizes the O(Σ d²) wedge stream
    (r10, per advisory)."""
    spark = df.sparkSession
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # "auto" (AQE-managed) or unset — fall back
        return spark.sparkContext.defaultParallelism


def cooccurrence_edges(
    df: DataFrame,
    entity_col: str,
    context_col: str,
    max_context_size: int | None = None,
) -> DataFrame:
    """Undirected co-occurrence edges: entities sharing a context
    (users purchasing on the same day, docs sharing a cluster, ...).
    Canonical orientation src < dst, distinct. The self-join is
    per-context (shuffle on the context key), so cost is
    O(Σ context_size²) — bound contexts first (day × event_type here)
    the same way dedup bounds band buckets.

    ``max_context_size`` is the hub cap (dedup's ``max_df`` discipline
    for the identical quadratic problem): contexts with more than that
    many distinct entities are DROPPED — one oversized context (a flash
    sale hour, a boilerplate cluster) would otherwise emit
    O(context²) edges silently at 100x. The drop count is logged at
    WARNING so a production run shows exactly what was censored; the
    cap check is one count per context on the already-shuffled
    occurrence frame, amortized by the self-join that shuffles on the
    same key.
    """
    occ = df.select(
        F.col(context_col).alias("ctx"), F.col(entity_col).alias("ent")
    ).distinct()
    if max_context_size is not None:
        if max_context_size < 1:
            raise ValueError(
                f"max_context_size must be >= 1, got {max_context_size}"
            )
        # the capped path reads the distinct-occurrence frame three
        # times (drop-count stats, keep filter, self-join sides) and
        # the stats collect below materializes it eagerly — persist so
        # the distinct shuffle runs once instead of three times
        occ = track(occ.persist())
        sizes = occ.groupBy("ctx").agg(F.count(F.lit(1)).alias("__ctx_n"))
        stats = sizes.agg(
            F.sum(
                F.when(F.col("__ctx_n") > max_context_size, 1).otherwise(0)
            ).alias("n_dropped"),
            F.max("__ctx_n").alias("max_seen"),
        ).collect()[0]
        if stats["n_dropped"]:
            log.warning(
                "cooccurrence_edges: dropped %d context(s) larger than "
                "max_context_size=%d (largest seen: %d entities) — their "
                "co-occurrence pairs are NOT in the edge set",
                stats["n_dropped"],
                max_context_size,
                stats["max_seen"],
            )
        keep = sizes.filter(F.col("__ctx_n") <= max_context_size).select(
            "ctx"
        )
        occ = occ.join(keep, "ctx", "left_semi")
    a = occ.select("ctx", F.col("ent").alias("src"))
    b = occ.select("ctx", F.col("ent").alias("dst"))
    return (
        a.join(b, "ctx")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def pagerank_fixedpoint(
    edges: DataFrame, iterations: int = 3, damping_pct: int = 85
) -> DataFrame:
    """PageRank over an undirected graph (canonical edges src < dst),
    ``iterations`` rounds, damping d = damping_pct/100, uniform init.

    All arithmetic is fixed-point on positive BIGINTs (RANK_SCALE
    units, floor division via ``div``), so every engine and every
    partitioning produces the IDENTICAL integers:

        R0(v)    = RANK_SCALE div N
        R_k+1(v) = ((100-d)*RANK_SCALE) div (100*N)
                   + (d * Σ_{u~v} (R_k(u) div deg(u))) div 100

    Undirected ⇒ edges are symmetrized before the transfer join and
    every node has deg >= 1 (no dangling mass). Each iteration is one
    join (ranks × adjacency) + one groupBy(dst) — the canonical
    message-passing shape. The (src, dst, deg) adjacency is joined and
    persisted ONCE (r10 — it was rebuilt from sym per iteration), and
    the deg.count() the constants need anyway prices the rank frame:
    when the n rank rows fit a broadcast comfortably, each iteration's
    transfer join hash-broadcasts them over the cached adjacency scan
    — per-iteration cost drops to the ONE O(m) groupBy(dst) exchange
    (measured, 3 rounds on the 243k-edge sf0.1 co-purchase graph:
    2.6 → 2.0 s warm on a cached edge frame, 5.4 → 2.6 s cold; the
    full gate incl. edge derivation 3.15 → 2.7 s warm-min).
    Big graphs keep the scale-safe shuffle join:
    the cached adjacency is already hash-partitioned on src from the
    degree join, so only rank rows move.
    Returns (v, rank_fp) — rank in RANK_SCALE units, exact."""
    # pin the (often join-derived) edge frame: sym's union reads it
    # twice, and deg/adj/initial-ranks all read sym
    if not edges.is_cached:
        edges = track(edges.persist())
    sym = edges.select("src", "dst").unionAll(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
    )
    # deg feeds the n count, the initial rank frame AND the adjacency
    # join — persist so the degree shuffle runs once
    deg = track(
        sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).persist()
    )
    # the invariant per-iteration input: neighbor lists WITH the
    # source degree attached — persist the joined frame, not sym, so
    # no iteration re-pays the degree join
    adj = track(sym.join(deg, "src").persist())
    n = deg.count()  # bounded: one long — fixes the constants below
    base = ((100 - damping_pct) * RANK_SCALE) // (100 * n)
    # ~16 B/rank row: broadcast while the frame stays well under the
    # driver/executor comfort zone
    broadcast_ranks = 16 * n < (32 << 20)
    ranks = deg.select(
        F.col("src").alias("v"),
        F.lit(RANK_SCALE // n).cast("bigint").alias("rank_fp"),
    )
    for _ in range(iterations):
        r = F.broadcast(ranks) if broadcast_ranks else ranks
        transfer = (
            adj.join(r, adj["src"] == r["v"])
            .select(
                F.col("dst"),
                F.expr("rank_fp div deg").alias("share"),
            )
            .groupBy("dst")
            .agg(F.sum("share").alias("in_sum"))
        )
        ranks = transfer.select(
            F.col("dst").alias("v"),
            (
                F.lit(base)
                + F.expr(f"({damping_pct} * in_sum) div 100")
            )
            .cast("bigint")
            .alias("rank_fp"),
        )
    return ranks


def _wedge_adjacency(
    edges: DataFrame,
    min_common: int,
    max_apex_degree: int | None,
    op_name: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared preamble of the wedge-enumeration link predictors:
    validate, pin the canonical edge frame, build the symmetric
    (apex w, neighbor n) adjacency, and apply the apex hub cap.
    Returns (edges, sym)."""
    if min_common < 1:
        raise ValueError(f"min_common must be >= 1, got {min_common}")
    edges = edges.select("src", "dst")
    if not edges.is_cached:
        edges = track(edges.persist())
    sym = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).select(F.col("src").alias("w"), F.col("dst").alias("n"))
    return edges, _cap_apexes(sym, max_apex_degree, op_name)


# (u, v) id pairs pack into ONE bigint group key (u << 32 | v) when
# both ids are integers in [0, 2^31) — half the bytes through the
# wedge stream's exchange and a single-word aggregation hash-map key
# (guide §2.3 "narrower types"); the probe routes string/oversized
# ids to the two-column key unchanged.
def _ids_pack(lo, hi) -> bool:
    return (
        isinstance(lo, int)
        and isinstance(hi, int)
        and lo >= 0
        and hi < 2**31
    )


def _edges_pack(edges: DataFrame) -> bool:
    """One bounded probe on the canonical edge frame: its id range
    proves the packed key safe. Probe the edges, not the hub-capped
    adjacency: a hub dropped by max_apex_degree is no apex there, yet
    it is still a neighbor (u or v) of the apexes that survive."""
    row = edges.agg(
        F.min(F.least("src", "dst")).alias("lo"),
        F.max(F.greatest("src", "dst")).alias("hi"),
    ).collect()[0]
    return _ids_pack(row["lo"], row["hi"])


def _pack_uv():
    return F.shiftleft(F.col("u").cast("bigint"), 32).bitwiseOR(
        F.col("v").cast("bigint")
    )


def _unpack_uv(id_type: str) -> list:
    return [
        F.shiftright(F.col("uv"), 32).cast(id_type).alias("u"),
        F.col("uv").bitwiseAND(F.lit(4294967295)).cast(id_type).alias("v"),
    ]


def common_neighbor_candidates(
    edges: DataFrame,
    min_common: int = 2,
    max_apex_degree: int | None = None,
) -> DataFrame:
    """Friend-of-friend candidate generation: NON-adjacent vertex
    pairs ranked by their common-neighbor count — the classic
    link-prediction / recommendation-candidate primitive (Liben-Nowell
    & Kleinberg 2003's simplest score, kept integer so it gates
    exactly cross-engine).

    Pairs are enumerated at the shared neighbor (the apex of the
    2-path), so per-apex fan-out is O(d(w)²) — the same quadratic hub
    problem as cooccurrence_edges, and the same discipline applies:
    ``max_apex_degree`` DROPS oversized apexes whole (count logged at
    WARNING). Dropping mega-hubs is also the statistically sound
    choice here — a common neighbor shared with millions carries no
    signal, the reason Adamic-Adar down-weights high-degree apexes.

    Plan: symmetric adjacency self-joined on the apex (one shuffle),
    id-ordered pair filter, groupBy over the PACKED (u << 32 | v)
    bigint key when the id-range probe allows (guide §2.3: half the
    bytes through the wedge stream's exchange, single-word hash-map
    key; string/oversized ids keep the two-column key — an explicit
    broadcast of the adjacency build side was ALSO measured here in
    r13 and rejected: three serial driver-side broadcast builds cost
    more than the two tiny w-shuffles they replace, and at scale the
    2m-row build side exceeds the comfort bound anyway), anti-join
    against the canonical edge set to keep non-edges only. Returns
    (u, v, cn) for pairs with cn >= min_common."""
    edges, sym = _wedge_adjacency(
        edges, min_common, max_apex_degree, "common_neighbor_candidates"
    )
    pack = _edges_pack(edges)
    id_type = dict(edges.dtypes)["src"]
    a = sym.select("w", F.col("n").alias("u"))
    b = sym.select("w", F.col("n").alias("v"))
    wedges = a.join(b, "w").filter(F.col("u") < F.col("v"))
    gcols = ["uv"] if pack else ["u", "v"]
    keyed = (
        wedges.select(_pack_uv().alias("uv")) if pack
        else wedges.select("u", "v")
    )
    # Repartition the wedge stream on the GROUP key before counting:
    # it arrives partitioned by APEX, where (u,v) keys are nearly all
    # distinct per task, so the map-side partial aggregate builds
    # wedge-sized hash maps for no reduction; grouping-key partitions
    # make the count a single complete pass (measured 4.7 s vs 5.9 s
    # at sf0.1 and 65 s vs 74 s at the 16x curve — a win at both
    # scales for these narrow rows; the WEIGHTED path cost-chooses
    # instead because its wider rows make the extra shuffle a loss at
    # gate scale).
    cn = (
        keyed.repartition(_wedge_width(edges), *gcols)
        .groupBy(*gcols)
        .agg(F.count(F.lit(1)).cast("bigint").alias("cn"))
        .filter(F.col("cn") >= min_common)
    )
    if pack:
        cn = cn.select(*_unpack_uv(id_type), "cn")
    return cn.join(
        edges.withColumnsRenamed({"src": "u", "dst": "v"}),
        ["u", "v"],
        "left_anti",
    )


LINKPRED_SCALE = 1_000_000_000_000  # 10^12 fixed-point score units


def weighted_link_scores(
    edges: DataFrame,
    min_common: int = 1,
    max_apex_degree: int | None = None,
) -> DataFrame:
    """Degree-weighted link-prediction scores over the
    common_neighbor_candidates wedge machinery — the ranking an actual
    recommender uses on top of raw common-neighbor counts
    (Liben-Nowell & Kleinberg 2003; Adamic & Adar 2003; Zhou, Lü &
    Zhang 2009's resource allocation):

    - ``ra_fp``  — resource allocation Σ_w 1/d(w), the strongest of the
      classic local scores in published benchmarks. Fixed-point:
      Σ (LINKPRED_SCALE div d(w)) on BIGINTs — floor division makes
      every engine and partitioning produce the identical integer.
    - ``aa_fp``  — Adamic-Adar Σ_w 1/log(d(w)), with the log taken as
      the integer STAIRCASE log2 (1 + floor(log2 d) = bit length of d,
      computed from the binary string — exact in any engine; float
      ln() differs across libm implementations in the last ulp, which
      a cross-engine value hash cannot tolerate). Same monotone
      down-weighting of promiscuous apexes, integer-exact.

    Each common neighbor w contributes both terms at the apex: the
    wedge stream carries only (dw, bl) — the apex degree and its bit
    length, int32 under a probed bound — and the LINKPRED_SCALE
    divisions run inside the aggregate (r13, guide §2.3: 20 B/row
    less than shipping two fixed-point longs through the heavy path's
    exchange). Same groupBy key discipline as the unweighted count
    (packed (u << 32 | v) under the id-range probe), same
    ``max_apex_degree`` hub-cap discipline (a neighbor shared with
    millions carries no signal — dropping mega-hub apexes is the
    Adamic-Adar rationale applied as a hard cap; drop count logged at
    WARNING inside common_neighbor_candidates' shared helper).

    Returns (u, v, cn, ra_fp, aa_fp) for NON-adjacent pairs with
    cn >= min_common."""
    edges, sym = _wedge_adjacency(
        edges, min_common, max_apex_degree, "weighted_link_scores"
    )
    # per-apex degree d(w) = |N(w)| — the symmetric adjacency has
    # exactly one row per (w, neighbor), so a count per w is the degree
    wdeg = track(
        sym.groupBy("w").agg(F.count(F.lit(1)).alias("dw")).persist()
    )
    # ONE bounded aggregate prices the plan choices (same job the
    # pre-r13 code spent on the wedge volume alone; the id range is
    # _edges_pack's):
    # - vol = Σ dw(dw-1)/2, the exact row count the (u,v) aggregation
    #   will see. Above the threshold, the partial aggregate is a
    #   liability: the wedge stream arrives partitioned by APEX, so
    #   per-task (u,v) keys are nearly all distinct, the partial hash
    #   maps overflow and spill while achieving no reduction (measured
    #   at the 16x curve: 178 s as-is vs 108 s pre-partitioned, with
    #   GC-locker thrash); an explicit repartition on the GROUP key
    #   makes the aggregation a single complete pass per partition.
    #   Below it, the extra 39M-row shuffle costs more than the
    #   partial maps (6.2 s vs 11.3 s at sf0.1) — cost-chosen.
    # - Σ dw = 2m prices broadcasting the degree table AND the wedge
    #   join's build side (r13): while they fit the 32 MiB broadcast
    #   comfort bound, the whole enumeration is one codegen span over the
    #   cached edge scan — no degree-join shuffle, no checkpoint, no
    #   AQE-coalesce hazard (AQE sizes the post-shuffle read by bytes,
    #   cannot see the join's fan-out, and was measured serializing
    #   the O(Σ d²) stream onto one core, 43 s vs 7 s at sf0.1).
    #   Past the bound, the scale-safe pre-r13 shape: shuffled degree
    #   join, localCheckpoint (truncates the adaptive plan), explicit
    #   round-robin repartition to restore enumeration parallelism.
    # - max(dw) proves the int32 degree narrowing (guide §2.3).
    row = wdeg.agg(
        F.sum(F.col("dw") * (F.col("dw") - 1) / 2).alias("v"),
        F.sum("dw").alias("sum_d"),
        F.max("dw").alias("max_d"),
    ).collect()[0]
    vol = row["v"]
    heavy_wedges = vol is not None and vol > 2.5e8
    pack = _edges_pack(edges)
    small_sym = (
        row["sum_d"] is not None and 20 * row["sum_d"] < (32 << 20)
    )
    id_type = dict(edges.dtypes)["src"]
    # Ship (dw, bl) — the degree and its bit length, int32 when the
    # degree range allows — through the wedge stream instead of the
    # two 8-byte fixed-point terms (r12 note, guide §2.3: 20 B/row
    # less through the heavy path's exchange); the division into
    # LINKPRED_SCALE units moves inside the aggregate, evaluated on
    # the narrow columns. bl = length of the binary string
    # == 1 + floor(log2 dw) — integer-exact in Spark (bin) and DuckDB
    # (printf %b); float ln() differs across libm implementations in
    # the last ulp, which a cross-engine value hash cannot tolerate.
    dw_t = "int" if (row["max_d"] or 0) < 2**31 else "bigint"
    wd = wdeg.select(
        "w",
        F.col("dw").cast(dw_t).alias("dw"),
        F.length(F.bin("dw")).cast("int").alias("bl"),
    )
    if small_sym:
        a = sym.join(F.broadcast(wd), "w").select(
            "w", F.col("n").alias("u"), "dw", "bl"
        )
    else:
        a = (
            sym.join(wd, "w")
            .select("w", F.col("n").alias("u"), "dw", "bl")
            .localCheckpoint()
            .repartition(_wedge_width(edges))
        )
    b = sym.select("w", F.col("n").alias("v"))
    wedges = a.join(F.broadcast(b) if small_sym else b, "w").filter(
        F.col("u") < F.col("v")
    )
    gcols = ["uv"] if pack else ["u", "v"]
    keyed = wedges.select(
        *([_pack_uv().alias("uv")] if pack else [F.col("u"), F.col("v")]),
        "dw",
        "bl",
    )
    if heavy_wedges:
        keyed = keyed.repartition(_wedge_width(edges), *gcols)
    scored = (
        keyed.groupBy(*gcols)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cn"),
            F.sum(F.expr(f"{LINKPRED_SCALE} div dw"))
            .cast("bigint")
            .alias("ra_fp"),
            F.sum(F.expr(f"{LINKPRED_SCALE} div bl"))
            .cast("bigint")
            .alias("aa_fp"),
        )
        .filter(F.col("cn") >= min_common)
    )
    if pack:
        scored = scored.select(
            *_unpack_uv(id_type), "cn", "ra_fp", "aa_fp"
        )
    er = edges.withColumnsRenamed({"src": "u", "dst": "v"})
    return scored.join(
        F.broadcast(er) if small_sym else er, ["u", "v"], "left_anti"
    )


def _cap_apexes(
    sym: DataFrame, max_apex_degree: int | None, op_name: str
) -> DataFrame:
    """Shared hub-cap for wedge enumeration at the apex: DROP apexes
    whose degree exceeds the cap (whole, loudly) — one oversized apex
    would otherwise emit O(d²) wedge pairs silently at 100x. Returns
    the (possibly filtered) symmetric adjacency."""
    if max_apex_degree is None:
        return sym
    if max_apex_degree < 2:
        raise ValueError(
            f"max_apex_degree must be >= 2, got {max_apex_degree}"
        )
    sizes = sym.groupBy("w").agg(F.count(F.lit(1)).alias("__d"))
    stats = sizes.agg(
        F.sum(
            F.when(F.col("__d") > max_apex_degree, 1).otherwise(0)
        ).alias("n_dropped"),
        F.max("__d").alias("max_seen"),
    ).collect()[0]
    if stats["n_dropped"]:
        log.warning(
            "%s: dropped %d apex(es) with degree above "
            "max_apex_degree=%d (largest seen: %d) — their wedge pairs "
            "are NOT candidates",
            op_name,
            stats["n_dropped"],
            max_apex_degree,
            stats["max_seen"],
        )
    keep = sizes.filter(F.col("__d") <= max_apex_degree).select("w")
    return sym.join(keep, "w", "left_semi")
