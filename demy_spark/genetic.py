"""Genetic selection of topic prototype vectors.

Parity target: ``VectorGeneticCategorizer`` (topic/TopicTree.scala:
210-356, 432-530) — a genetic algorithm evolving sets of "top
sentences" (prototype vectors) that best cover a corpus: population
scoring against all documents, selection of the fittest, crossover by
mixing far-apart prototypes, mutation by re-sampling.

Spark-first redesign of the scoring loop: the reference scores the
population with mapPartitions + a driver LRU similarity cache; here
EVERY candidate set in the generation is scored by ONE job — the
population is flattened into a (set_id, center_id, dim, weight) table,
broadcast against the exploded corpus, and fitness = Σ_docs max_center
cosine comes back as one ≤pop_size-row aggregate. Selection/crossover/
mutation are O(pop × k) driver work on ids only.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from demy_spark.io import local_frame
from demy_spark.session import keep, owned


def _population_df(spark, population: list[list[list[float]]]) -> DataFrame:
    rows = [
        (s, c, d, float(x))
        for s, centers in enumerate(population)
        for c, vec in enumerate(centers)
        for d, x in enumerate(vec)
    ]
    return local_frame(spark, rows, "_s_ long, _c_ long, _d_ long, _w_ double")


def score_population(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    population: list[list[list[float]]],
) -> list[float]:
    """Fitness per candidate set: mean over docs of the best cosine to
    any prototype in the set. One Spark job for the whole population."""
    spark = df.sparkSession
    pop = _population_df(spark, population)
    norm_c = pop.groupBy("_s_", "_c_").agg(
        F.sqrt(F.sum(F.col("_w_") ** 2)).alias("_nc_")
    )
    dims = df.select(
        F.col(id_col).alias("_id_"), F.posexplode(vec_col).alias("_d_", "_x_")
    )
    norms = dims.groupBy("_id_").agg(F.sqrt(F.sum(F.col("_x_") ** 2)).alias("_nx_"))
    dots = (
        dims.join(F.broadcast(pop), "_d_")
        .groupBy("_id_", "_s_", "_c_")
        .agg(F.sum(F.col("_x_") * F.col("_w_")).alias("_dot_"))
    )
    best = (
        dots.join(F.broadcast(norm_c), ["_s_", "_c_"])
        .join(norms, "_id_")
        .select(
            "_id_",
            "_s_",
            (F.col("_dot_") / F.nullif(F.col("_nx_") * F.col("_nc_"), F.lit(0.0))).alias(
                "_sim_"
            ),
        )
        .groupBy("_id_", "_s_")
        .agg(F.max("_sim_").alias("_best_"))
    )
    rows = best.groupBy("_s_").agg(F.avg("_best_").alias("_fit_")).collect()
    fitness = [0.0] * len(population)
    for r in rows:
        fitness[r["_s_"]] = r["_fit_"]
    return fitness


def sample_vectors(
    df: DataFrame, id_col: str, vec_col: str, n: int, seed: int
) -> list[list[float]]:
    """Deterministic vector sample: top-n by a seeded hash ordering (the
    reference's orderBy(rand).take, TopicTree.scala:337-338, made
    reproducible).

    orderBy+limit compiles to TakeOrderedAndProject — a distributed
    per-partition top-n merged on the driver — not the single-partition
    sort a global row_number window would force."""
    rows = (
        df.select(F.col(vec_col).alias("_v_"), F.col(id_col).alias("_id_"))
        .orderBy(F.xxhash64(F.col("_id_"), F.lit(seed)))
        .limit(n)
        .collect()
    )
    return [list(map(float, r["_v_"])) for r in rows]


def evolve_prototypes_replay(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 3,
    pop_size: int = 6,
    generations: int = 3,
    mutation_rate: float = 0.25,
    draws: list[float],
    pool_size: int = 64,
) -> tuple[list[list[float]], float, list[float]]:
    """Deterministic-replay variant of ``evolve_prototypes`` — the
    oracle-checkable form of VectorGeneticCategorizer (topic/
    TopicTree.scala:210-356).

    Differences from the free-running variant, each chosen so DuckDB
    can replay the evolution exactly (queries.q47_genetic_prototypes):
    - randomness comes from ``draws``, a pre-generated uniform [0,1)
      sequence consumed on a FIXED schedule (mutation draws are
      consumed whether or not the mutation fires), so every stochastic
      choice is a pure function of the seed — a fixture, like q70's
      frozen classifier weights;
    - the candidate pool is the first ``pool_size`` vectors under the
      arithmetic shuffle ORDER BY (id*48271) % 65537, id (SQL-
      replayable, unlike a hash function private to Spark);
    - population state is tracked as POOL INDICES; crossover/mutation
      move indices, so only fitness needs vectors;
    - fitness is rounded to 9dp before ranking on both engines, so
      identical-composition candidates (possible after crossover) tie
      exactly and fall back to the stable by-index order instead of
      diverging on 1e-16 aggregation noise.

    Draw schedule: pop_size·k pool picks, then per generation per
    child: parent-a, parent-b (without replacement), k gene coin-flips,
    mutation gate, mutation position, mutation pool pick.
    """
    it = iter(draws)

    def u() -> float:
        return next(it)

    rows = (
        df.select(F.col(vec_col).alias("_v_"), F.col(id_col).alias("_id_"))
        .orderBy((F.col("_id_") * 48271) % 65537, F.col("_id_"))
        .limit(pool_size)
        .collect()
    )
    pool = [list(map(float, r["_v_"])) for r in rows]
    npool = len(pool)
    if npool != pool_size:
        # the SQL replay scales draw indices by the CONSTANT pool_size;
        # a short pool would silently diverge from the oracle, so fail
        # loudly instead
        raise ValueError(
            f"replay needs exactly pool_size={pool_size} vectors, got {npool}"
        )

    pop_idx = [
        [int(u() * npool) for _ in range(k)] for _ in range(pop_size)
    ]
    elite_n = max(2, pop_size // 2)
    history: list[float] = []

    def fitnesses() -> list[float]:
        vecs = [[pool[i] for i in s] for s in pop_idx]
        return [
            round(f, 9)
            for f in score_population(base, id_col, vec_col, vecs)
        ]

    with owned():
        base = keep(df.select(id_col, vec_col))
        for _ in range(generations):
            fitness = fitnesses()
            order = sorted(range(pop_size), key=lambda i: (-fitness[i], i))
            history.append(fitness[order[0]])
            elite = [pop_idx[i] for i in order[:elite_n]]
            children = []
            for _ in range(pop_size - elite_n):
                da = int(u() * elite_n)
                db0 = int(u() * (elite_n - 1))
                db = db0 + 1 if db0 >= da else db0
                child = [
                    elite[da][j] if u() < 0.5 else elite[db][j]
                    for j in range(k)
                ]
                gate, posd, poold = u(), u(), u()
                if gate < mutation_rate:
                    child[int(posd * k)] = int(poold * npool)
                children.append(child)
            pop_idx = elite + children
        fitness = fitnesses()
        best = max(range(pop_size), key=lambda i: fitness[i])
        history.append(fitness[best])
        return [pool[i] for i in pop_idx[best]], fitness[best], history


def evolve_prototypes(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 4,
    pop_size: int = 8,
    generations: int = 5,
    mutation_rate: float = 0.25,
    seed: int = 42,
) -> tuple[list[list[float]], float, list[float]]:
    """Evolve a k-prototype set maximizing corpus coverage.

    Per generation: one scoring job; keep the top half (elitism),
    refill by crossover (uniform prototype mix of two parents) +
    mutation (swap one prototype for a fresh corpus sample). Returns
    (best set, best fitness, fitness-by-generation history)."""
    rng = random.Random(seed)
    pool = sample_vectors(df, id_col, vec_col, max(pop_size * k * 2, 64), seed)
    if len(pool) < k:
        raise ValueError(f"corpus smaller than k={k}")

    population = [
        [pool[rng.randrange(len(pool))] for _ in range(k)] for _ in range(pop_size)
    ]
    history: list[float] = []
    with owned():
        base = keep(df.select(id_col, vec_col))
        for _ in range(generations):
            fitness = score_population(base, id_col, vec_col, population)
            order = sorted(range(pop_size), key=lambda i: -fitness[i])
            history.append(fitness[order[0]])
            elite = [population[i] for i in order[: max(2, pop_size // 2)]]
            children = []
            while len(elite) + len(children) < pop_size:
                pa, pb = rng.sample(elite, 2)
                child = [pa[j] if rng.random() < 0.5 else pb[j] for j in range(k)]
                if rng.random() < mutation_rate:
                    child[rng.randrange(k)] = pool[rng.randrange(len(pool))]
                children.append(child)
            population = elite + children
        fitness = score_population(base, id_col, vec_col, population)
        best = max(range(pop_size), key=lambda i: fitness[i])
        history.append(fitness[best])
        return population[best], fitness[best], history
