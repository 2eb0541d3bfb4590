"""Entity dictionary matching and co-occurrence refinement.

Parity targets:
- ``EntityCalculator`` (text/EntityCalculator.scala:16-249): match
  entity synonym "legs" (token sequences) inside token streams —
  exact, fuzzy (levenshtein similarity ≥ threshold) — and group the
  matches per entity.
- ``WordCoocurrenceRefiner`` / ``WordCategoryScorer``
  (text/WordCoocurrenceRefiner.scala:14-130, WordCategoryScorer.scala:
  14-131): propose co-occurring tokens as new synonym candidates,
  scored by how specifically they co-occur with an entity's matches.

Scale notes: the dictionary side is broadcast (entity dictionaries are
human-curated, i.e. small); documents are exploded once to (doc, pos,
token) rows; fuzzy matching prunes with a length-delta prefilter before
computing any edit distance; co-occurrence is one join back to the
exploded tokens + a keyed count — no driver-side loops over data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from demy_spark.functions.textstats import norm_tokens
from demy_spark.session import keep


def explode_tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, pos, token) rows, lowercased single-space-contract tokens
    (textstats.norm_tokens — the q44/q45/q52/q78 oracles tokenize with
    string_split(trim(lower), ' '); a \\s+ split diverges on
    tab/newline input)."""
    toks = norm_tokens(F.col(text_col))
    return df.select(
        F.col(id_col).alias("_id_"), F.posexplode(toks).alias("_pos_", "_tok_")
    )


def match_entities(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    entities: DataFrame,
    *,
    entity_col: str = "entity",
    synonym_col: str = "synonym",
    min_similarity: float = 1.0,
) -> DataFrame:
    """Match single-token entity synonyms against documents.

    ``min_similarity`` = 1.0 → exact token equality (hash join);
    < 1.0 → fuzzy: similarity = 1 - levenshtein/max(len) ≥ threshold,
    with a length-delta prefilter bounding candidates (the reference
    accepts Levenshtein-similarity ≥ 0.8, EntityCalculator.scala:
    150-156). Returns (id, pos, token, entity, synonym, similarity).
    """
    toks = explode_tokens(docs, text_col, id_col)
    ents = F.broadcast(
        entities.select(
            F.col(entity_col).alias("_ent_"),
            F.lower(F.col(synonym_col)).alias("_syn_"),
        )
    )
    if min_similarity >= 1.0:
        cand = toks.join(ents, toks["_tok_"] == ents["_syn_"]).withColumn(
            "similarity", F.lit(1.0)
        )
    else:
        max_delta = int((1.0 - min_similarity) * 20) + 1
        lev = F.levenshtein("_tok_", "_syn_")
        sim = 1.0 - lev / F.greatest(F.length("_tok_"), F.length("_syn_"))
        cand = (
            toks.join(
                ents,
                F.abs(F.length("_tok_") - F.length("_syn_")) <= max_delta,
            )
            .withColumn("similarity", F.round(sim, 6))
            .where(F.col("similarity") >= min_similarity)
        )
    return cand.select(
        F.col("_id_").alias(id_col),
        F.col("_pos_").alias("pos"),
        F.col("_tok_").alias("token"),
        F.col("_ent_").alias("entity"),
        F.col("_syn_").alias("synonym"),
        "similarity",
    )


def cooccurring_tokens(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    matches: DataFrame,
    *,
    top_k: int = 20,
    min_count: int = 2,
    stop_tokens: list[str] | None = None,
) -> DataFrame:
    """Synonym candidates per entity: tokens sharing a document with a
    match, ranked by co-occurrence count (ties → token asc). Excludes
    the already-matched tokens and optional stop tokens
    (WordCoocurrenceRefiner.scala:14-130). Returns
    (entity, candidate, n_docs, rk)."""
    from pyspark.sql import Window

    toks = explode_tokens(docs, text_col, id_col).select(
        "_id_", "_tok_"
    ).dropDuplicates(["_id_", "_tok_"])
    ent_docs = matches.select(
        F.col(id_col).alias("_id_"), "entity"
    ).dropDuplicates(["_id_", "entity"])
    matched_toks = matches.select(
        "entity", F.col("token").alias("_tok_")
    ).dropDuplicates()

    cand = (
        ent_docs.join(toks, "_id_")
        .join(matched_toks, ["entity", "_tok_"], "left_anti")
    )
    if stop_tokens:
        cand = cand.where(~F.col("_tok_").isin(stop_tokens))
    counts = cand.groupBy("entity", "_tok_").agg(
        F.countDistinct("_id_").alias("n_docs")
    ).where(F.col("n_docs") >= min_count)
    w = Window.partitionBy("entity").orderBy(F.desc("n_docs"), F.asc("_tok_"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= top_k)
        .select("entity", F.col("_tok_").alias("candidate"), "n_docs", "rk")
    )


def refine_entities(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    entities: DataFrame,
    *,
    rounds: int = 2,
    accept_top_k: int = 2,
    min_count: int = 2,
    min_similarity: float = 1.0,
    stop_tokens: list[str] | None = None,
    entity_col: str = "entity",
    synonym_col: str = "synonym",
) -> DataFrame:
    """Multi-round entity-dictionary refinement — the iterative loop
    around ``match_entities`` + ``cooccurring_tokens`` that the
    reference drives from its annotation UI (EntityCalculator.scala:
    16-249: match, propose, human accept/reject, repeat).

    The human decision is replaced by a deterministic auto-accept
    policy: each round accepts the top ``accept_top_k`` co-occurrence
    proposals per entity with ``n_docs ≥ min_count`` (already-known
    synonyms never re-enter). Every round is a fixed DataFrame plan;
    the dictionary stays a (persisted) dictionary-sized DataFrame that
    broadcasts into the match join — nothing data-sized reaches the
    driver, and the loop count is the human-loop round count (a
    handful by construction).

    Returns the refined dictionary: (entity, synonym, round_added)
    with round_added = 0 for seeds.
    """
    d = keep(
        entities.select(
            F.col(entity_col).alias("entity"),
            F.lower(F.col(synonym_col)).alias("synonym"),
        )
        .withColumn("round_added", F.lit(0))
    )
    for r in range(1, rounds + 1):
        matches = match_entities(
            docs,
            text_col,
            id_col,
            d,
            min_similarity=min_similarity,
        )
        props = cooccurring_tokens(
            docs,
            text_col,
            id_col,
            matches,
            top_k=accept_top_k,
            min_count=min_count,
            stop_tokens=stop_tokens,
        )
        accepted = (
            props.select("entity", F.col("candidate").alias("synonym"))
            .join(
                d.select("entity", "synonym"),
                ["entity", "synonym"],
                "left_anti",
            )
            .withColumn("round_added", F.lit(r))
        )
        prev, d = d, keep(d.unionByName(accepted))
        prev.unpersist()  # early release: the next round reads only d
    return d


def score_word_categories(
    docs: DataFrame,
    text_col: str,
    group_col: str,
    tag_col: str,
    *,
    top_k: int = 10,
    exclude_tokens: list[str] | None = None,
) -> DataFrame:
    """Propose the tokens most characteristic of each (group, tag)
    category — the synonym-proposal scorer.

    Parity: ``WordCategoryScorer`` (text/WordCategoryScorer.scala:
    14-131): per tag, token score = tf · idf where idf is computed over
    the group's TAGS (ln(n_tags / n_tags_containing_token)), normalized
    to the token's share of the tag's total tf·idf mass; a token is
    then kept only in its single best-scoring tag of the group (the
    reference's cross-tag elimination drops a token wherever another
    tag scores ≥ it — exact ties eliminate the token everywhere); the
    top ``top_k`` survivors per tag are the proposals. The reference
    additionally weights scores by cosine(token vector, tag centroid −
    token) when embeddings are present; compose the returned tokens
    with ``features.apply_embeddings`` for that variant.

    Everything is hash-agg + window — two shuffles (token grain, then
    tag grain), no driver-side state; ``exclude_tokens`` plays the role
    of the reference's already-matched entity spans.
    """
    toks = docs.select(
        F.col(group_col).alias("_grp_"),
        F.col(tag_col).alias("_tag_"),
        F.explode(norm_tokens(F.col(text_col))).alias("_tok_"),
    )
    if exclude_tokens:
        toks = toks.where(~F.col("_tok_").isin(list(exclude_tokens)))
    tf = toks.groupBy("_grp_", "_tag_", "_tok_").agg(F.count("*").alias("_tf_"))
    n_tags = (
        toks.select("_grp_", "_tag_")
        .distinct()
        .groupBy("_grp_")
        .agg(F.count("*").alias("_ntags_"))
    )
    dfs = tf.groupBy("_grp_", "_tok_").agg(F.count("*").alias("_df_"))
    scored = (
        tf.join(dfs, ["_grp_", "_tok_"])
        .join(n_tags, "_grp_")
        .withColumn("_tfidf_", F.col("_tf_") * F.log(F.col("_ntags_") / F.col("_df_")))
        .withColumn("_tot_", F.sum("_tfidf_").over(Window.partitionBy("_grp_", "_tag_")))
        # a group whose tags share every token (e.g. a single-tag group)
        # has zero tf·idf mass — no discriminative tokens to propose
        # (null share drops out below; ANSI-safe division)
        .withColumn(
            "_share_",
            F.when(F.col("_tot_") != 0.0, F.col("_tfidf_") / F.col("_tot_")),
        )
    )
    wtok = Window.partitionBy("_grp_", "_tok_")
    survivors = (
        scored.withColumn("_mx_", F.max("_share_").over(wtok))
        .withColumn(
            "_nmx_",
            F.sum(F.when(F.col("_share_") == F.col("_mx_"), 1).otherwise(0)).over(wtok),
        )
        .where((F.col("_share_") == F.col("_mx_")) & (F.col("_nmx_") == 1))
    )
    wrank = Window.partitionBy("_grp_", "_tag_").orderBy(
        F.desc("_share_"), F.asc("_tok_")
    )
    return (
        survivors.withColumn("rk", F.row_number().over(wrank))
        .where(F.col("rk") <= top_k)
        .select(
            F.col("_grp_").alias(group_col),
            F.col("_tag_").alias(tag_col),
            F.col("_tok_").alias("token"),
            F.col("_share_").alias("share"),
            "rk",
        )
    )
