"""Iterative inversion-search harness: evolutionary + greedy hill-climb.

Re-creates the reference's two search dataflows (SURVEY.md §2.9) —
the loops that, given a target embedding, evolve candidate strings
toward it by embed → score → rank → mutate:

- **I1 evolutionary** (reference src/app.py:100-171): population of 60,
  <=120 generations, 20% elitism, crossover p=0.12, early-stop at
  cosine > 0.995. Each generation is ONE Spark job: the population (an
  Arrow local frame) → Arrow-batched embed UDF → cosine column expr,
  every (text, score) row collected. The loop state stays on the
  driver, which picks the elites, breeds the children and keeps the
  running best — the per-generation state is ~60 short strings, far
  below what a Spark job's fixed cost is worth.
- **I2 greedy** (reference src/app.py:174-202): 12 restarts x 200
  sequential accept-if-better iterations with 1% random-jump teleports.
  The inner loop is inherently sequential, so each restart climbs
  inside one ``mapInPandas`` task, restarts spread over the tasks of
  ONE job, and the one row per restart is merged on the driver.
- **I4 merge** (reference src/app.py:246-255): union both strategies'
  outputs → keep max score per distinct text → global top-30, on the
  driver.

Both searches and their merge return an Arrow local frame, so
collecting the result runs no Spark job. Determinism: every mutation
draws from ``random.Random(f"{seed}:...")`` keyed on (run seed,
generation, slot, parent text), so runs replay exactly — the
discipline SURVEY.md §5.5 prescribes for the reference's unseeded RNG.
"""

from __future__ import annotations

import itertools
import random
from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cyborgdb_encrypted_vector_search_spark.functions import embed as E
from cyborgdb_encrypted_vector_search_spark.functions import vector as V

# Reference workload constants (BASELINE.md):
# pop 60 / gens <=120 / elite 0.2 / early-stop 0.995 (src/app.py:102-104,145)
# char mutation p_ins 0.12, p_del 0.08, p_sub 0.18 (src/app.py:65)
# crossover p 0.12 (src/app.py:163); greedy 12x200, jump p 0.01
# (src/app.py:175-176,197); top-30 reporting (src/app.py:171,254).
# the reference's mutation alphabet verbatim (src/app.py:62):
# 62 alphanumerics + space + ,.-'"?! = 70 chars
ALPHABET = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 ,.-'\"?!"
)
WORD_SEEDS = [
    "the", "a", "I", "you", "it", "is", "are", "like", "love", "enjoy",
    "this", "example", "test", "model",
]  # the reference's WORD_SEEDS list verbatim (src/app.py:63)


def mutate_charwise(
    s: str,
    rng: random.Random,
    p_ins: float = 0.12,
    p_del: float = 0.08,
    p_sub: float = 0.18,
) -> str:
    """At-most-one-edit-of-each-kind char mutation (reference
    src/app.py:65-79 semantics, matched exactly): one coin flip per
    edit KIND — delete a random char w.p. p_del, then substitute a
    random position w.p. p_sub, then insert a random char at a random
    gap w.p. p_ins — in that order, each edit seeing the previous
    edit's result. An empty string can only gain an insert."""
    s_list = list(s)
    if s_list and rng.random() < p_del:
        del s_list[rng.randrange(len(s_list))]
    if s_list and rng.random() < p_sub:
        s_list[rng.randrange(len(s_list))] = rng.choice(ALPHABET)
    if rng.random() < p_ins:
        s_list.insert(rng.randrange(len(s_list) + 1), rng.choice(ALPHABET))
    return "".join(s_list)


def mutate_wordwise(s: str, rng: random.Random, max_words: int = 40) -> str:
    """Replace/insert/delete one word (reference src/app.py:81-97
    semantics, matched exactly): empty input -> random seed word;
    op<0.33 replace a random word with a seed word OR a copy of an
    existing word; op<0.66 insert a seed word at any of len+1 gaps
    (capped at 40 words); else delete a random word (never below 1)."""
    words = s.split()
    if not words:
        return rng.choice(WORD_SEEDS)
    op = rng.random()
    if op < 0.33:
        i = rng.randrange(len(words))
        words[i] = rng.choice(WORD_SEEDS + [rng.choice(words)])
    elif op < 0.66 and len(words) < max_words:
        i = rng.randrange(len(words) + 1)
        words.insert(i, rng.choice(WORD_SEEDS))
    elif len(words) > 1:
        i = rng.randrange(len(words))
        del words[i]
    return " ".join(words)


def crossover(a: str, b: str, rng: random.Random) -> str:
    """Prefix/suffix splice at a random split point (reference
    src/app.py:162-166)."""
    if not a or not b:
        return a or b
    sa = rng.randrange(1, len(a) + 1)
    sb = rng.randrange(0, len(b) + 1)
    return a[:sa] + b[sb:]


def _mutate_child(parent: str, mate: str, seed_key: str) -> str:
    rng = random.Random(seed_key)
    child = parent
    if mate and rng.random() < 0.12:
        child = crossover(child, mate, rng)
    if rng.random() < 0.5:
        child = mutate_charwise(child, rng)
    else:
        child = mutate_wordwise(child, rng)
    return child


def _score_col(unit_target: Sequence[float]) -> Column:
    """Cosine vs pre-normalized literal target: one fold per row (the
    embed UDF already L2-normalizes, so dot == cosine; zero vectors
    score -1.0, the reference sentinel)."""
    t = V.literal_vector(unit_target)
    zero = F.size(F.filter("embedding", lambda x: x != F.lit(0.0))) == 0
    return F.when(zero, F.lit(-1.0)).otherwise(V.dot("embedding", t))


def _generation_width(pop_size: int) -> int:
    """Partition width of one generation's embed/score batch: ~8 texts
    per partition, capped at 8 partitions — wide enough that the Arrow
    embed UDF runs as one parallel batch, narrow enough that a 60-row
    population doesn't pay 32 task launches per generation."""
    return max(1, min(8, pop_size // 8))


def _generation_scored(
    spark: SparkSession,
    pop: Sequence[str],
    embed_udf,
    unit_target: Sequence[float],
) -> DataFrame:
    """One generation's population scored against the target: embed
    (Arrow-batched UDF) + cosine fold + projection, planned as a single
    narrow stage. Split out of the generation loop so the stage's plan
    shape is test-pinnable. The population is an Arrow local frame —
    building it runs no Python job, unlike a Python-list frame or
    ``parallelize`` — coalesced to ``_generation_width``: its scan has
    min(rows, defaultParallelism) slices, so the stage runs
    min(width, defaultParallelism) tasks, with no exchange for AQE to
    collapse onto one core."""
    pop_df = spark.createDataFrame(pa.table({"text": pa.array(pop, pa.string())}))
    return (
        pop_df.coalesce(_generation_width(len(pop)))
        .withColumn("embedding", embed_udf("text"))
        .withColumn("score", _score_col(unit_target))
        .select("text", "score")
    )


def _ranked(rows, n: int) -> list[tuple[str, float]]:
    """The first ``n`` (text, score) rows by (score desc, text asc) —
    the order of every elite pick and result."""
    return sorted(rows, key=lambda r: (-r[1], r[0]))[:n]


def _keep_max_local(spark: SparkSession, rows, top_n: int) -> DataFrame:
    """I4 on the driver: max score per distinct text, the ``top_n``
    best, as an Arrow local frame (collecting it runs no Spark job)."""
    best: dict[str, float] = {}
    for text, score in rows:
        if text not in best or score > best[text]:
            best[text] = score
    top = _ranked(best.items(), top_n)
    return spark.createDataFrame(pa.table({
        "text": pa.array([t for t, _ in top], pa.string()),
        "score": pa.array([s for _, s in top], pa.float64()),
    }))


def _check_seeds_and_top(seed_candidates: Sequence[str], top_n: int) -> None:
    if not len(seed_candidates):
        raise ValueError("seed_candidates must not be empty")
    if top_n < 1:
        raise ValueError(f"top_n must be >= 1, got {top_n}")


def evolutionary_search(
    spark: SparkSession,
    target_emb: Sequence[float],
    seed_candidates: Sequence[str],
    pop_size: int = 60,
    generations: int = 120,
    elite_frac: float = 0.2,
    early_stop: float = 0.995,
    seed: int = 0,
    dim: int = E.DEFAULT_DIM,
    top_n: int = 30,
) -> DataFrame:
    """I1: returns (text, score) of the final top_n candidates, as a
    local frame.

    One Spark job per generation run (the scoring stage of
    :func:`_generation_scored`); elite selection, breeding and the
    final keep-max run on the driver. Raises ``ValueError`` before any
    job on empty ``seed_candidates``, ``pop_size``, ``generations`` or
    ``top_n`` below 1, or ``elite_frac`` outside (0, 1]."""
    _check_seeds_and_top(seed_candidates, top_n)
    if pop_size < 1:
        raise ValueError(f"pop_size must be >= 1, got {pop_size}")
    if generations < 1:
        raise ValueError(f"generations must be >= 1, got {generations}")
    if not 0 < elite_frac <= 1:
        raise ValueError(f"elite_frac must be in (0, 1], got {elite_frac}")
    unit_target = V.normalize_py(list(target_emb))
    embed_udf = E.make_embed_udf(dim)
    n_elite = max(1, int(pop_size * elite_frac))

    # init population: seeds + 1-4 stacked mutations (reference
    # src/app.py:117-128)
    rng = random.Random(f"{seed}:init")
    pop = list(seed_candidates)
    while len(pop) < pop_size:
        base = rng.choice(seed_candidates)
        for _ in range(rng.randint(1, 4)):
            base = _mutate_child(base, rng.choice(seed_candidates), f"{seed}:init:{rng.random()}")
        pop.append(base)
    pop = pop[:pop_size]

    best_rows: list[tuple[str, float]] = []
    for gen in range(generations):
        scored = _generation_scored(spark, pop, embed_udf, unit_target).collect()
        elites = _ranked([(r["text"], r["score"]) for r in scored], n_elite)
        best_rows.extend(elites)
        if elites[0][1] > early_stop or gen == generations - 1:
            break
        # regenerate: keep elites, fill with mutated/crossed children —
        # elite i's slots 1..per_parent in turn, mate = the next elite
        elite_texts = [t for t, _ in elites]
        n_children = pop_size - len(elite_texts)
        per_parent = (n_children + len(elite_texts) - 1) // len(elite_texts)
        children = (
            _mutate_child(
                t, elite_texts[(i + 1) % len(elite_texts)], f"{seed}:{gen}:{slot}:{t}"
            )
            for i, t in enumerate(elite_texts)
            for slot in range(1, per_parent + 1)
        )
        pop = elite_texts + list(itertools.islice(children, n_children))

    # I4-style dedup-max over everything seen, final top-n
    return _keep_max_local(spark, best_rows, top_n)


GREEDY_SCHEMA = T.StructType(
    [
        T.StructField("restart", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def greedy_search(
    spark: SparkSession,
    target_emb: Sequence[float],
    seed_candidates: Sequence[str],
    restarts: int = 12,
    iters: int = 200,
    jump_p: float = 0.01,
    seed: int = 0,
    dim: int = E.DEFAULT_DIM,
    top_n: int = 30,
    batch_size: int = 1,
) -> DataFrame:
    """I2: each restart runs its sequential accept-if-better climb in a
    ``mapInPandas`` task (reference src/app.py:174-202 — single-candidate
    embed per iteration, 1% teleport probability). The restarts are an
    Arrow local frame, spread over min(restarts, defaultParallelism)
    tasks of ONE Spark job; their one row each is merged on the driver
    into a local frame of (text, score). Raises ``ValueError`` before
    any job on empty ``seed_candidates``, ``restarts`` or ``top_n``
    below 1, or ``iters`` below 0.

    ``batch_size=1`` reproduces the reference exactly (one embed call
    per iteration — its stated anti-pattern, src/app.py:192).
    ``batch_size>1`` speculatively derives that many candidates from
    the current state per iteration, embeds them in ONE ``embed_texts``
    call (one model/matrix invocation), and accepts the best improving
    one — same hill-climb semantics, 1/batch_size the per-call
    overhead when a real encoder backs the embedder."""
    import numpy as np
    import pandas as pd

    _check_seeds_and_top(seed_candidates, top_n)
    if restarts < 1:
        raise ValueError(f"restarts must be >= 1, got {restarts}")
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    unit_target = np.array(V.normalize_py(list(target_emb)))
    seeds = list(seed_candidates)

    def climb(pdf: pd.DataFrame) -> pd.DataFrame:
        r = int(pdf["restart"].iloc[0])
        rng = random.Random(f"{seed}:restart:{r}")
        cur = seeds[r % len(seeds)]

        def score_of(text: str) -> float:
            v = np.array(E.embed_text(text, dim))
            if not v.any():
                return -1.0
            return float(np.dot(v, unit_target))

        cur_score = score_of(cur)
        if batch_size <= 1:
            for it in range(iters):
                if rng.random() < jump_p:  # teleport (src/app.py:197-199)
                    cand = rng.choice(seeds)
                else:
                    cand = _mutate_child(cur, rng.choice(seeds), f"{seed}:{r}:{it}:{cur}")
                cand_score = score_of(cand)
                if cand_score > cur_score:  # accept-if-better (src/app.py:194-195)
                    cur, cur_score = cand, cand_score
        else:
            for it in range(iters):
                cands = []
                for b in range(batch_size):
                    if rng.random() < jump_p:
                        cands.append(rng.choice(seeds))
                    else:
                        cands.append(
                            _mutate_child(
                                cur, rng.choice(seeds), f"{seed}:{r}:{it}:{b}:{cur}"
                            )
                        )
                mat = np.array(E.embed_texts(cands, dim))  # one batched call
                scores = mat @ unit_target
                scores[~mat.any(axis=1)] = -1.0
                j = int(np.argmax(scores))
                if scores[j] > cur_score:
                    cur, cur_score = cands[j], float(scores[j])
        return pd.DataFrame({"restart": [r], "text": [cur], "score": [cur_score]})

    def climb_each(batches):
        for pdf in batches:
            for i in range(len(pdf)):
                yield climb(pdf.iloc[[i]])

    restarts_df = spark.createDataFrame(
        pa.table({"restart": pa.array(range(restarts), pa.int32())})
    )
    rows = restarts_df.mapInPandas(climb_each, GREEDY_SCHEMA).collect()
    return _keep_max_local(spark, [(r["text"], r["score"]) for r in rows], top_n)


def merge_results(evo: DataFrame, greedy: DataFrame, top_n: int = 30) -> DataFrame:
    """I4: union -> dedup-keep-max -> top-n (reference src/app.py:246-255),
    merged on the driver: each search returns at most ``top_n`` rows as
    an Arrow local frame, so collecting both runs no Spark job."""
    rows = [(r["text"], r["score"]) for df in (evo, greedy) for r in df.collect()]
    return _keep_max_local(evo.sparkSession, rows, top_n)


def invert_embedding(
    spark: SparkSession,
    target_emb: Sequence[float],
    seed_candidates: Sequence[str],
    mode: str = "both",
    seed: int = 0,
    top_n: int = 30,
    evo_kwargs: dict | None = None,
    greedy_kwargs: dict | None = None,
) -> DataFrame:
    """The reference's full inversion entry point (src/app.py:231-255):
    run evolutionary and/or greedy search against a target embedding and
    merge the result sets (``--mode evo|greedy|both``, default both).
    """
    if mode not in ("evo", "greedy", "both"):
        raise ValueError(f"mode must be evo|greedy|both, got {mode!r}")
    parts = []
    if mode in ("evo", "both"):
        parts.append(
            evolutionary_search(
                spark, target_emb, seed_candidates, seed=seed, top_n=top_n,
                **(evo_kwargs or {}),
            )
        )
    if mode in ("greedy", "both"):
        parts.append(
            greedy_search(
                spark, target_emb, seed_candidates, seed=seed, top_n=top_n,
                **(greedy_kwargs or {}),
            )
        )
    if len(parts) == 1:
        return parts[0]
    return merge_results(parts[0], parts[1], top_n)
