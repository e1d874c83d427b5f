"""Dedup queries over ``documents`` / ``embeddings`` (north-star
extension; machinery in operators/dedup.py). The fixture plants real
near-duplicates (Jaccard ~0.99 pairs), so these return non-trivial
results.

Oracle construction mirrors the Spark operators CTE-for-stage:
md5-based hash family, identical shingling, identical banding — the
SQL is generated from the same Python constants so the two sides can't
drift.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import bigcount_sql, load, register
from ..operators import cache as C
from ..operators import dedup as D
from .textops import _ALPHA, _AVGLEN, _STOPRATIO, doc_fp_cached

# Session-level caches of the hot derived relations (shingles, MinHash
# signatures, LSH candidates, jaccard scores, components, simhash):
# several catalog queries each derive from the identical rows, and the
# derivations are the dominant costs in the dedup family. Caching the
# hot derived relation across queries is the same move a warehouse
# makes with a materialized intermediate — correctness is untouched
# (each query's plan still starts from the same rows). All entries are
# owned by operators/cache.py's family registry, which gives them a
# release lifecycle (round-2 verdict: no persist without an owner).
#
# STRUCTURAL EXACT-DUP COLLAPSE (round-7, verdict item 2): every pair
# family (MinHash/LSH candidates, jaccard, components, SimHash pairs,
# embedding-cosine pairs) is BUILT over exact-duplicate-group
# REPRESENTATIVES only (rep = min doc_id per normalized-text
# fingerprint — the dedup_exact_groups key) and lazily EXPANDED back to
# member grain on consumption (operators/dedup.py::expand_rep_pairs /
# intra_group_pairs). Exactness: members of a group share the
# normalized text, so every hash family (shingles, signatures, votes,
# hashed-tf vectors) treats them identically — a rep pair qualifies iff
# all its member pairs do, within-group pairs always qualify (equal
# signatures collide in every band), and every payload value is
# group-invariant. The round-6 10x sweep measured WHY this must be
# structural, not just the pipeline_clean_corpus ordering: a corpus
# where every doc has 9 exact copies inflates LSH bucket occupancy 10x
# and within-bucket candidate volume ~100x (~200M pairs), killing a 4g
# single-JVM heap in the band self-joins and the persisted pair
# relations. Rep-side relations restore ~1x occupancy no matter how
# duplicate-dense the corpus is; the expanded PAIR relations are never
# persisted — they stream from two equi-joins over the persisted rep
# relations and the (id, rep) map (pairs go quadratic in group size on
# a high-dup corpus, so persisting them would reintroduce the blowup).
# The one deliberate exception is _components_expanded (round 11):
# one row PER MEMBER, linear at any duplicate density, and consumed by
# three plans — so it is family-cached like the rep relations. Oracles are untouched: they state
# the raw member-grain form, and every consuming query hash-matches
# (the gate + tests/test_round7_dedup_collapse.py's pathological-corpus
# equivalence suite).


def _plan_memo(spark: SparkSession, name: str, sf_dir: str, builder):
    """Session-memoized consumer PLAN (round 13, guide §7.3: planning
    time itself is a bottleneck on deep lineage). The lazily-expanded
    pair relations below are deliberately never persisted (the round-7
    quadratic-blowup rule), but their *DataFrame objects* are pure plan
    — rebuilding one costs ~0.3-1.5 s of py4j chatter + eager analysis
    over the three-chain lineage, paid again by EVERY consumer entry
    (dedup_family_agreement alone re-built three of them). Memoizing
    the built plan per (session, sf_dir) removes that fixed cost while
    changing nothing about execution: same object => same logical plan
    => same physical plan, the identical reuse contract as catalog.load
    (round 11). Invalidation is coupled to release_families via the
    shared memo registry, so a released family cache can never leak
    through a stale consumer plan. No ephemeral persist may be
    registered inside ``builder`` (the release_ephemeral sweep would
    strip a load-bearing persist out of a long-lived memoized plan) —
    all six memoized helpers are pure join/union compositions."""
    return C.memo(spark, f"plan.{name}", sf_dir, builder)


def _exact_rep_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, rep, gsz): every document's exact-duplicate-group
    representative (rep = MIN(doc_id) over the normalized-text
    fingerprint — the same md5 key as dedup_exact_groups, so an md5
    collision (2^-128) is the one shared, accepted failure mode of the
    whole exact-dedup semantic) plus the group size, carried on every
    row so consumers (the weighted vector mean, the components
    expansion) never re-aggregate it. One hash aggregate + one
    co-partitioned join back on the fingerprint; 3 narrow columns,
    linear in the corpus."""

    def build() -> DataFrame:
        # from the session-shared fingerprint relation (round-10 hoist)
        d = doc_fp_cached(spark, sf_dir).select("doc_id", "fp")
        reps = d.groupBy("fp").agg(
            F.min("doc_id").alias("rep"), F.count("*").alias("gsz")
        )
        return d.join(reps, "fp").select(
            F.col("doc_id").alias("id"), "rep", "gsz"
        )

    return C.family(spark, "dedup.exact_rep", sf_dir, build)


def _rep_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents rows of group representatives only (lazy semi-join
    against the persisted rep map — not its own family)."""
    m = _exact_rep_cached(spark, sf_dir)
    return load(spark, sf_dir, "documents").join(
        m.filter(F.col("id") == F.col("rep")).select(
            F.col("id").alias("doc_id")
        ),
        "doc_id",
        "left_semi",
    )


def _shingles_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL-doc (id, shingle) rows — still needed at member grain by
    doc_shingle_novelty and the decontamination stage of
    pipeline_pretraining_batches (linear relations, never the pair
    blowup)."""
    # NOT eager (round 11, measured): eager was tried on every family
    # in this module after the similarity-topk broadcast finding and
    # REVERTED — these heavy relations' first consumers materialize
    # them through ordinary shuffle/aggregate paths (which DO fill a
    # lazy persist), so eager only split build+consume into two jobs
    # and cost the bench ~15 s (dedup family sum 21.3 -> 30.8 s,
    # A/B'd on back-to-back sub-1%-steal runs). Eager stays ONLY on
    # the tiny broadcast-consumed topk caches in plans/similarity.py.
    return C.family(
        spark,
        "dedup.shingles",
        sf_dir,
        lambda: D.shingle_rows(load(spark, sf_dir, "documents")),
    )


def _rep_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative-only shingle rows (lazy semi-join over the
    persisted all-doc relation; not persisted separately — on low-dup
    corpora it would duplicate nearly the whole shingle cache)."""
    m = _exact_rep_cached(spark, sf_dir)
    return _shingles_cached(spark, sf_dir).join(
        m.filter(F.col("id") == F.col("rep")).select("id"), "id", "left_semi"
    )


def _rep_sigs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-REPRESENTATIVE MinHash signatures (the only signature
    aggregation that runs; member signatures are a map lookup)."""
    return C.family(
        spark,
        "dedup.rep_minhash_sigs",
        sf_dir,
        lambda: D.minhash_signatures(_rep_shingles(spark, sf_dir)),
    )


def _sigs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash signature relation at MEMBER grain — lazy
    expansion of the rep signatures through the (id, rep) map
    (bit-identical: equal normalized text => equal shingle set => equal
    per-hash minima). Feeds the estimator-accuracy audit. Plan
    memoized (_plan_memo)."""

    def build() -> DataFrame:
        m = _exact_rep_cached(spark, sf_dir)
        rs = _rep_sigs_cached(spark, sf_dir).withColumnRenamed("id", "rep")
        return m.join(rs, "rep").select(
            "id", *[f"sig{h}" for h in range(D.NUM_HASHES)]
        )

    return _plan_memo(spark, "dedup.sigs_expanded", sf_dir, build)


def _rep_cands_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs among REPRESENTATIVES — the band self-join
    runs at ~1x bucket occupancy regardless of duplicate density."""
    return C.family(
        spark,
        "dedup.rep_lsh_candidates",
        sf_dir,
        lambda: D.candidate_pairs(D.lsh_buckets(_rep_sigs_cached(spark, sf_dir))),
    )


def _candidates_expanded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Member-grain LSH candidate pairs — lazy expansion: cross pairs
    of every rep candidate's two groups, plus all within-group pairs of
    shingled groups (equal signatures collide in every band). Equals
    the raw all-doc band join bit-for-bit; never persisted (the PLAN is
    memoized — _plan_memo)."""

    def build() -> DataFrame:
        m = _exact_rep_cached(spark, sf_dir)
        inter = D.expand_rep_pairs(m, _rep_cands_cached(spark, sf_dir), [])
        intra = D.intra_group_pairs(m, _rep_sigs_cached(spark, sf_dir))
        return inter.unionAll(intra)

    return _plan_memo(spark, "dedup.candidates_expanded", sf_dir, build)


def _rep_jaccard_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-set Jaccard for the REP candidate pairs (the
    expensive shingle-intersection join runs once per rep pair, not per
    member pair)."""
    return C.family(
        spark,
        "dedup.rep_jaccard",
        sf_dir,
        lambda: D.jaccard_pairs(
            _rep_shingles(spark, sf_dir), _rep_cands_cached(spark, sf_dir)
        ),
    )


def _jaccard_expanded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Member-grain jaccard-scored pairs — lazy expansion. Cross pairs
    inherit the rep pair's jaccard (identical shingle sets => identical
    intersection/union integers => identical double). Within-group
    pairs score n/(n+n-n) = n/n, which is EXACTLY 1.0 in IEEE for any
    finite nonzero n — the literal is bit-identical to the raw
    computation. Plan memoized (_plan_memo): four consumer entries
    re-built this identical plan per touch."""

    def build() -> DataFrame:
        m = _exact_rep_cached(spark, sf_dir)
        inter = D.expand_rep_pairs(
            m, _rep_jaccard_cached(spark, sf_dir), ["jaccard"]
        )
        intra = D.intra_group_pairs(m, _rep_sigs_cached(spark, sf_dir)).select(
            "id1", "id2", F.lit(1.0).alias("jaccard")
        )
        return inter.unionAll(intra)

    return _plan_memo(spark, "dedup.jaccard_expanded", sf_dir, build)


def _rep_components_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the REP near-dup graph (>= 0.8
    jaccard). The iterative propagation touches only rep edges."""
    return C.family(
        spark,
        "dedup.rep_components",
        sf_dir,
        lambda: D.connected_components(
            _rep_jaccard_cached(spark, sf_dir).filter(F.col("jaccard") >= 0.8)
        ),
    )


def _components_expanded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Member-grain (id, component) — expansion of the rep components,
    FAMILY-CACHED (round-10 verdict item 1b: three consumers —
    dedup_cluster_components, dedup_cluster_canonical,
    corpus_dedup_rate_by_source — each re-ran the expansion joins).
    Persisting is safe at any duplicate density: the relation is ONE
    row per component member (linear in corpus size), unlike the
    member-grain PAIR expansions which stay lazy precisely because
    they can go quadratic in group size on a high-dup corpus.

    Groups are cliques in the raw graph (within-group jaccard =
    1.0 >= 0.8), so contracting each group to its rep preserves
    connectivity exactly, and the raw min-reachable-id label equals
    the rep-graph label because every group's minimum member IS its
    rep. Three member populations:
      1. members of groups whose rep sits in a rep edge -> the rep
         component's label;
      2. members of size>=2 SHINGLED groups with no external edge ->
         their own clique, label = rep;
      3. everyone else (singletons without edges, sub-shingle-length
         groups) -> absent, exactly as in the raw graph."""

    def build() -> DataFrame:
        m = _exact_rep_cached(spark, sf_dir)
        comp_rep = _rep_components_cached(spark, sf_dir).withColumnRenamed(
            "id", "rep"
        )
        part1 = m.join(comp_rep, "rep").select("id", "component")
        sizes = m.filter(F.col("id") == F.col("rep")).select("rep", "gsz")
        iso = (
            sizes.filter(F.col("gsz") >= 2)
            .join(
                _rep_sigs_cached(spark, sf_dir).select(
                    F.col("id").alias("rep")
                ),
                "rep",
                "left_semi",
            )
            .join(comp_rep.select("rep"), "rep", "left_anti")
            .select("rep")
        )
        part2 = m.join(iso, "rep").select(
            "id", F.col("rep").alias("component")
        )
        return part1.unionAll(part2)

    return C.family(spark, "dedup.components_expanded", sf_dir, build)


def _rep_simhash_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-REPRESENTATIVE SimHash signatures (the token-vote aggregate
    runs over rep docs only)."""
    return C.family(
        spark,
        "dedup.rep_simhash",
        sf_dir,
        lambda: D.simhash(_rep_docs(spark, sf_dir)),
    )


def _simhash_expanded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Member-grain (id, simhash) — lazy expansion (equal token
    multisets => equal votes => equal signature). Empty-token groups
    produce no rep signature and stay absent, as in the raw build.
    Plan memoized (_plan_memo)."""

    def build() -> DataFrame:
        m = _exact_rep_cached(spark, sf_dir)
        rs = _rep_simhash_cached(spark, sf_dir).withColumnRenamed("id", "rep")
        return m.join(rs, "rep").select("id", "simhash")

    return _plan_memo(spark, "dedup.simhash_expanded", sf_dir, build)


def _rep_simhash_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hamming<=3 pairs among REPRESENTATIVES (band self-join at ~1x
    occupancy)."""
    return C.family(
        spark,
        "dedup.rep_simhash_pairs",
        sf_dir,
        lambda: D.simhash_near_pairs(_rep_simhash_cached(spark, sf_dir)),
    )


def _simhash_pairs_expanded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Member-grain SimHash near pairs — lazy expansion. The 4-band
    prefilter is COMPLETE for hamming < 4 (pigeonhole), so the raw
    output is exactly {pairs with hamming <= 3}: cross pairs inherit
    the rep hamming, within-group pairs (of token-bearing groups) have
    hamming 0. Plan memoized (_plan_memo)."""

    def build() -> DataFrame:
        m = _exact_rep_cached(spark, sf_dir)
        inter = D.expand_rep_pairs(
            m, _rep_simhash_pairs_cached(spark, sf_dir), ["hamming"]
        )
        intra = D.intra_group_pairs(
            m, _rep_simhash_cached(spark, sf_dir)
        ).select("id1", "id2", F.lit(0).cast("int").alias("hamming"))
        return inter.unionAll(intra)

    return _plan_memo(spark, "dedup.simhash_pairs_expanded", sf_dir, build)

# shared SQL fragments --------------------------------------------------------

_NORM = "replace(translate(lower(trim(regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))), 'ς', 'σ'), 'i' || chr(775), 'i')"
_TOKS = f"list_filter(string_split({_NORM}, ' '), t -> t <> '')"
# distinct 3-word shingles; shorter docs yield an empty list
_SHINGLES = (
    f"list_distinct(list_transform("
    f"generate_series(1, greatest(len({_TOKS}) - 2, 0)), "
    f"i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2]))"
)

_SIG_COLS = ",\n           ".join(
    f"min(md5('{h}|' || sh)) AS sig{h}" for h in range(D.NUM_HASHES)
)
_ROWS_PER_BAND = D.NUM_HASHES // D.BANDS
_BUCKET_SELECTS = "\n      UNION ALL\n".join(
    f"      SELECT id, {b} AS band, md5("
    + " || ".join(f"sig{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND))
    + ") AS bucket FROM sigs"
    for b in range(D.BANDS)
)

_SHINGLE_CTES = f"""
    WITH sh AS (
      SELECT doc_id AS id, unnest({_SHINGLES}) AS sh
      FROM documents
    ),
    sigs AS (
      SELECT id, {_SIG_COLS}
      FROM sh GROUP BY id
    ),
    buckets AS (
{_BUCKET_SELECTS}
    ),
    cands AS (
      SELECT DISTINCT a.id AS id1, b.id AS id2
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    )
"""


@register(
    "dedup_exact_groups",
    oracle=f"""
    SELECT md5({_NORM}) AS fp,
           MIN(doc_id) AS keeper_doc_id,
           {bigcount_sql()} AS group_size
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the normalized-text fingerprint;
    deterministic keeper = min doc_id. One map-side-combine aggregate —
    the cheapest dedup at any scale (fingerprints from the
    session-shared relation)."""
    return doc_fp_cached(spark, sf_dir).groupBy("fp").agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count("*").alias("group_size"),
    )


@register(
    "dedup_minhash_candidates",
    oracle=_SHINGLE_CTES + """
    SELECT id1, id2 FROM cands
    """,
)
def dedup_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: shingle -> 8-hash signature ->
    4 bands -> bucket equi-join. Only bucket-colliding docs ever meet —
    the candidate set is ~linear in corpus size, not quadratic."""
    return _candidates_expanded(spark, sf_dir)


@register(
    "dedup_jaccard_verified",
    oracle=_SHINGLE_CTES + """
    , sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    inter AS (
      SELECT c.id1, c.id2, COUNT(*) AS i
      FROM cands c
      JOIN sh s1 ON s1.id = c.id1
      JOIN sh s2 ON s2.id = c.id2 AND s2.sh = s1.sh
      GROUP BY c.id1, c.id2
    )
    SELECT i.id1, i.id2,
           CAST(i.i AS DOUBLE) / CAST(n1.n + n2.n - i.i AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes n1 ON n1.id = i.id1
    JOIN sizes n2 ON n2.id = i.id2
    WHERE CAST(i.i AS DOUBLE) / CAST(n1.n + n2.n - i.i AS DOUBLE) >= 0.8
    """,
)
def dedup_jaccard_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard verification of the LSH candidates: exact shingle-
    set similarity >= 0.8 — the verify stage that makes MinHash output
    trustworthy (candidates are probabilistic, this is exact)."""
    # shingle rows feed BOTH the signature and the verification joins
    return _jaccard_expanded(spark, sf_dir).filter(F.col("jaccard") >= 0.8)


@register(
    "pipeline_clean_corpus",
    oracle=_SHINGLE_CTES + f"""
    , sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    inter AS (
      SELECT c.id1, c.id2, COUNT(*) AS i
      FROM cands c
      JOIN sh s1 ON s1.id = c.id1
      JOIN sh s2 ON s2.id = c.id2 AND s2.sh = s1.sh
      GROUP BY c.id1, c.id2
    ),
    neardup_losers AS (
      SELECT DISTINCT i.id2 AS id
      FROM inter i JOIN sizes n1 ON n1.id = i.id1 JOIN sizes n2 ON n2.id = i.id2
      WHERE CAST(i.i AS DOUBLE) / CAST(n1.n + n2.n - i.i AS DOUBLE) >= 0.8
    ),
    quality AS (
      SELECT doc_id, (0.4 * {_STOPRATIO}
            + 0.3 * least({_AVGLEN} / 10.0, 1.0)
            + 0.3 * {_ALPHA}) AS q
      FROM documents
    ),
    exact_keepers AS (
      SELECT MIN(doc_id) AS doc_id
      FROM documents
      GROUP BY md5(replace(translate(lower(trim(regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))), 'ς', 'σ'), 'i' || chr(775), 'i'))
    )
    SELECT d.doc_id, q.q AS quality_score
    FROM documents d
    JOIN quality q ON q.doc_id = d.doc_id
    JOIN exact_keepers k ON k.doc_id = d.doc_id
    WHERE q.q >= 0.39
      AND d.doc_id NOT IN (SELECT id FROM neardup_losers)
    """,
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite training-data cleaning pipeline: quality filter ->
    exact dedup (min-id keeper) -> near-dup removal (higher id of every
    >=0.8-jaccard LSH-verified pair dropped). One DataFrame chain; every
    stage is a previously-verified operator composed end-to-end."""
    from ..functions.text import quality_score

    d = load(spark, sf_dir, "documents")
    losers = (
        _jaccard_expanded(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.8)
        .select(F.col("id2").alias("doc_id"))
        .distinct()
    )
    keepers = doc_fp_cached(spark, sf_dir).groupBy("fp").agg(
        F.min("doc_id").alias("doc_id")
    )
    return (
        d.withColumn("quality_score", quality_score(F.col("text")))
        .filter(F.col("quality_score") >= 0.39)
        .join(keepers.select("doc_id"), "doc_id", "left_semi")
        .join(losers, "doc_id", "left_anti")
        .select("doc_id", "quality_score")
    )


# The connected-components oracles (this one, dedup_cluster_canonical
# and, through this one, corpus_dedup_rate_by_source) share this CTE
# chain. DuckDB 1.0 inlines every reference to a plain CTE, so the
# shingle chain was recomputed for each one (50-75 s per oracle at
# sf0.001). MATERIALIZED computes each non-recursive CTE once; the rows
# are the same. The recursive member requires the RECURSIVE keyword on
# the WHOLE CTE chain, so the shared prefix is patched.
_COMPONENT_CTES = re.sub(
    r"\b(sh|sigs|buckets|cands) AS \(",
    r"\1 AS MATERIALIZED (",
    _SHINGLE_CTES.replace("WITH sh AS", "WITH RECURSIVE sh AS", 1),
) + """
    , sizes AS MATERIALIZED (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    inter AS MATERIALIZED (
      SELECT c.id1, c.id2, COUNT(*) AS i
      FROM cands c
      JOIN sh s1 ON s1.id = c.id1
      JOIN sh s2 ON s2.id = c.id2 AND s2.sh = s1.sh
      GROUP BY c.id1, c.id2
    ),
    edges AS MATERIALIZED (
      SELECT i.id1, i.id2
      FROM inter i
      JOIN sizes n1 ON n1.id = i.id1
      JOIN sizes n2 ON n2.id = i.id2
      WHERE CAST(i.i AS DOUBLE) / CAST(n1.n + n2.n - i.i AS DOUBLE) >= 0.8
    ),
    nodes AS MATERIALIZED (SELECT id1 AS id FROM edges UNION SELECT id2 FROM edges),
    undirected AS MATERIALIZED (
      SELECT id1 AS a, id2 AS b FROM edges
      UNION SELECT id2, id1 FROM edges
    ),
    reach(id, root) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT u.b, r.root FROM reach r JOIN undirected u ON u.a = r.id
    )
"""


@register(
    "dedup_cluster_components",
    oracle=_COMPONENT_CTES + """
    SELECT id, MIN(root) AS component FROM reach GROUP BY id
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the
    >=0.8-Jaccard near-dup graph (pairwise dedup misses transitive
    clusters A~B~C where A!~C; components give each cluster one keeper
    = its min doc_id). Spark side is iterative min-label propagation
    (operators/dedup.py::connected_components); the DuckDB oracle is a
    recursive CTE computing min reachable id — one of the few iterative
    operators with an exact SQL twin. Note the oracle needs WITH
    RECURSIVE, which DuckDB supports; the prefix CTE is shared with
    dedup_jaccard_verified."""
    return _components_expanded(spark, sf_dir)


# --- SimHash ------------------------------------------------------------------

_HEX = "0123456789abcdef"


def _bit_sql(j: int) -> str:
    return (
        f"((strpos('{_HEX}', substring(md5(tok), {1 + j // 4}, 1)) - 1)"
        f" >> {3 - (j % 4)}) & 1"
    )


_VOTE_COLS = ",\n             ".join(
    f"SUM(({_bit_sql(j)}) * 2 - 1) AS v{j}" for j in range(D.SIMHASH_BITS)
)
_SIG_EXPR = " + ".join(
    f"(CASE WHEN v{j} >= 0 THEN {1 << j} ELSE 0 END)" for j in range(D.SIMHASH_BITS)
)


@register(
    "dedup_simhash_signatures",
    oracle=f"""
    WITH tok_rows AS (
      SELECT doc_id AS id, unnest({_TOKS.replace("text", "text")}) AS tok
      FROM documents WHERE trim(text) <> ''
    ),
    votes AS (
      SELECT id, {_VOTE_COLS}
      FROM tok_rows GROUP BY id
    )
    SELECT id, CAST({_SIG_EXPR} AS BIGINT) AS simhash
    FROM votes
    """,
)
def dedup_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document: token hash bits vote ±1 per position,
    sign of each sum sets the bit. All integer arithmetic — JVM-side and
    bit-identical to the oracle."""
    return _simhash_expanded(spark, sf_dir)


@register(
    "dedup_simhash_near_pairs",
    oracle=f"""
    WITH tok_rows AS (
      SELECT doc_id AS id, unnest({_TOKS}) AS tok
      FROM documents WHERE trim(text) <> ''
    ),
    votes AS (
      SELECT id, {_VOTE_COLS}
      FROM tok_rows GROUP BY id
    ),
    sig AS (
      SELECT id, CAST({_SIG_EXPR} AS BIGINT) AS simhash FROM votes
    ),
    banded AS (
      SELECT id, simhash, b.band, (simhash >> (b.band * 4)) & 15 AS chunk
      FROM sig, (SELECT unnest(generate_series(0, 3)) AS band) b
    ),
    cand AS (
      SELECT DISTINCT a.id AS id1, b.id AS id2, a.simhash AS h1, b.simhash AS h2
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.chunk = b.chunk AND a.id < b.id
    )
    SELECT id1, id2, CAST(bit_count(xor(h1, h2)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(h1, h2)) <= 3
    """,
)
def dedup_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 3) via 4-bit band LSH — the
    banding guarantees recall for hamming < 4 by pigeonhole while keeping
    the join linear in practice. Served from the rep-collapsed family
    (band join over representatives, exact member expansion — see the
    module-top collapse note)."""
    return _simhash_pairs_expanded(spark, sf_dir)


# --- embedding cosine near-dup -------------------------------------------------

# Embedding space for the cosine near-dup operator: 64-dim hashed
# bag-of-words document vectors, MEAN-CENTERED. Why derived vectors and
# not the fixture's `embeddings` table: that table is near-orthogonal
# random vectors (max pairwise cos ~0.51), so a near-dup threshold there
# must sit at ~0.45 — i.e. at ~63 degrees, where sign-LSH (or any
# hyperplane family) provably cannot separate qualifying pairs from the
# bulk: measured on the fixture, every banding config either missed
# qualifying pairs or joined MORE rows than the all-pairs product. The
# round-2 catalog entry was therefore the quadratic self-join — a scale
# trap (round-2 verdict #1). Real near-dup corpora have planted
# duplicates at cos >= ~0.95 with a wide margin to the bulk — exactly
# what the documents table provides once featurized. Mean-centering
# removes the common stopword-mass component (the fixture vocabulary is
# tiny, so raw count vectors are all mutually correlated); after
# centering the bulk collapses toward 0 while true near-dups stay ~1.
_EMB_DIM = 64
# Round-5 sweep (all-pairs-exact at sf0.001/0.01/0.1 for every config
# tried): (6,12) 10.1s / (4,12) 7.6s / (4,10) 7.2s / (6,10) 8.4s in the
# A/B harness; recall breaks only past ~14 bits ((3,14) missed 9 of
# 553, (4,16) missed 4). (4,12) keeps a 2-bit margin to the cliff and
# sheds a third of the plane dots; independent RANDOM hyperplanes were
# also tried — 10-20x fewer candidates but 43-97 missed pairs, because
# the difference-pair planes' data alignment is exactly what catches
# the marginal cos~0.95 pairs. See docs/PLANS.md "round-5 LSH notes".
_LSH_TABLES = 4
_LSH_BITS = 12
_COS_THRESHOLD = 0.95


def _rep_doc_vectors_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, vec: 64-dim mean-centered hashed-tf vector, nrm) for
    non-empty group REPRESENTATIVES (round-7 collapse: members share
    the normalized text, hence the token counts, hence the vector — the
    tokenize/hash/aggregate work runs once per distinct text). The
    corpus MEAN still weights every member: per-bucket mass is
    sum(group_size * rep_count) — a sum of exact integer-valued double
    products, equal to the raw per-doc sum in any order — divided by
    the FULL non-empty doc count. Counts are exact integers, centering
    is a per-element double subtract — all bit-portable to the DuckDB
    twin (catalog.py determinism rules)."""
    from ..functions.text import norm_tokens, normalize
    from ..functions.vectors import norm

    def build() -> DataFrame:
        # Hash-repartition by doc_id instead of _widen's round-robin:
        # same single-core-explode fix, but HashPartitioning(doc_id)
        # also satisfies the clustered distribution of BOTH downstream
        # aggregations — groupBy(doc_id, bucket) and groupBy(doc_id) —
        # so the whole per-rep pipeline runs with ONE shuffle (round-5
        # A/B: bit-identical, ~20% faster family build).
        # DOMAIN (round-9 text-edge pin): docs with >= 1 NORMALIZED
        # token — normalize(text) <> '', not trim(text) <> ''. A
        # whitespace-only-but-not-space doc passes the trim guard yet
        # has no tokens, hence no meaningful tf vector; it also shares
        # the normalized-empty fingerprint group with trim-empty docs,
        # so a trim-based guard split that group inconsistently
        # between the rep map and the vector relation (fixture doc 20).
        n_part = spark.sparkContext.defaultParallelism * 2
        m = _exact_rep_cached(spark, sf_dir)
        d = (
            _rep_docs(spark, sf_dir)
            .filter(normalize(F.col("text")) != "")
            .repartition(n_part, "doc_id")
        )
        code = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
        # cnt feeds BOTH the mean and the per-rep map aggregations below;
        # without the ephemeral persist the tokenize+hash pipeline runs
        # twice inside the one family materialization
        cnt = C.ephemeral(
            d.select("doc_id", F.explode(norm_tokens(F.col("text"))).alias("tok"))
            .select("doc_id", (code % _EMB_DIM).cast("int").alias("bucket"))
            .groupBy("doc_id", "bucket")
            .agg(F.count("*").cast("double").alias("c"))
        )
        # the mean divides by the FULL non-empty doc count (members
        # included), and each rep's bucket counts carry its group size —
        # exact integer arithmetic in doubles, so the per-bucket mass
        # equals the raw all-doc sum bit-for-bit (any summation order)
        ndocs = (
            load(spark, sf_dir, "documents")
            .filter(normalize(F.col("text")) != "")
            .agg(F.count("*").alias("n"))
        )
        sizes = m.filter(F.col("id") == F.col("rep")).select(
            "rep", F.col("gsz").cast("double").alias("gszd")
        )
        mean_row = (
            cnt.join(sizes, cnt["doc_id"] == sizes["rep"])
            .groupBy("bucket")
            .agg(F.sum(F.col("c") * F.col("gszd")).alias("s"))
            .agg(
                F.map_from_entries(
                    F.array_sort(F.collect_list(F.struct("bucket", "s")))
                ).alias("sm")
            )
            .crossJoin(F.broadcast(ndocs))
            .select(
                F.transform(
                    F.sequence(F.lit(0), F.lit(_EMB_DIM - 1)),
                    lambda i: F.coalesce(F.element_at("sm", i), F.lit(0.0))
                    / F.col("n"),
                ).alias("mvec")
            )
        )
        # LEFT join from the full rep list, not from cnt. Under the
        # normalize(text) != '' domain above this is a DEFENSIVE no-op
        # (round-9 advice): a non-empty normalized text guarantees >= 1
        # token, hence >= 1 cnt row, so no doc in d can lack a map. The
        # left join is kept (rather than inner) so that if the domain
        # guard ever loosens back to a trim-based form, token-less docs
        # degrade to the oracle's dd-CROSS-JOIN-mean behavior (pure
        # -mean vector via NULL map -> coalesce 0.0) instead of
        # silently vanishing at the explode.
        sparse = d.select("doc_id").join(
            cnt.groupBy("doc_id").agg(
                F.map_from_entries(
                    F.array_sort(F.collect_list(F.struct("bucket", "c")))
                ).alias("cm")
            ),
            "doc_id",
            "left",
        )
        vec = sparse.crossJoin(F.broadcast(mean_row)).select(
            "doc_id",
            F.zip_with(
                F.transform(
                    F.sequence(F.lit(0), F.lit(_EMB_DIM - 1)),
                    lambda i: F.coalesce(F.element_at("cm", i), F.lit(0.0)),
                ),
                F.col("mvec"),
                lambda x, m: x - m,
            ).alias("vec"),
        )
        return vec.withColumn("nrm", norm(F.col("vec"))).filter(F.col("nrm") > 0)

    return C.family(spark, "dedup.rep_doc_vectors", sf_dir, build)


def _doc_vectors_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Member-grain (doc_id, vec, nrm) — lazy expansion of the rep
    vectors through the (id, rep) map; bit-identical to the raw per-doc
    build (same counts, same mean, same subtracts). Shared by the LSH
    near-dup plan's plane/centroid derivations (which must see the
    leading MEMBER ids so the planes stay exactly the raw build's), the
    semdedup assignment, and the all-pairs twin tests."""
    m = _exact_rep_cached(spark, sf_dir)
    rv = _rep_doc_vectors_cached(spark, sf_dir).withColumnRenamed(
        "doc_id", "rep"
    )
    return m.join(rv, "rep").select(
        F.col("id").alias("doc_id"), "vec", "nrm"
    )


def _doc_vec_sql() -> str:
    """Shared oracle CTE prefix: the identical centered hashed-tf
    vectors in DuckDB (ends with relation e(doc_id, vec, nrm))."""
    from ..functions.vectors import norm_sql
    from .textops import _code_sql

    return f"""
    d AS (
      -- domain pin: >= 1 normalized token (t <> ''), mirroring the
      -- Spark side's normalize(text) <> '' guard
      SELECT doc_id, t FROM (
        SELECT doc_id,
               replace(translate(lower(trim(regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))), 'ς', 'σ'), 'i' || chr(775), 'i') AS t
        FROM documents
      ) WHERE t <> ''
    ),
    tok AS (
      SELECT doc_id, CAST({_code_sql("tok")} % {_EMB_DIM} AS INT) AS bucket
      FROM (SELECT doc_id, unnest(list_filter(string_split(t, ' '), x -> x <> '')) AS tok FROM d)
    ),
    cnt AS (
      SELECT doc_id, bucket, CAST(COUNT(*) AS DOUBLE) AS c
      FROM tok GROUP BY 1, 2
    ),
    dims AS (SELECT unnest(generate_series(0, {_EMB_DIM - 1})) AS dim),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM d),
    mean AS (
      SELECT dims.dim, COALESCE(s.s, 0.0) / n.n_docs AS m
      FROM dims CROSS JOIN n
      LEFT JOIN (SELECT bucket, SUM(c) AS s FROM cnt GROUP BY bucket) s
        ON s.bucket = dims.dim
    ),
    dense AS (
      SELECT dd.doc_id, mean.dim, COALESCE(cnt.c, 0.0) - mean.m AS x
      FROM (SELECT doc_id FROM d) dd
      CROSS JOIN mean
      LEFT JOIN cnt ON cnt.doc_id = dd.doc_id AND cnt.bucket = mean.dim
    ),
    vecs AS (SELECT doc_id, list(x ORDER BY dim) AS vec FROM dense GROUP BY doc_id),
    e AS (SELECT doc_id, vec, {norm_sql("vec")} AS nrm FROM vecs)
    """


def _embedding_oracle() -> str:
    from ..functions.vectors import dot_sql

    return f"""
    WITH {_doc_vec_sql()},
    pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2,
             ({dot_sql("a.vec", "b.vec")} / (a.nrm * b.nrm)) AS cos
      FROM e a JOIN e b ON a.doc_id < b.doc_id
      WHERE a.nrm > 0 AND b.nrm > 0
    )
    SELECT id1, id2, cos FROM pairs WHERE cos >= {_COS_THRESHOLD}
    """


@register("dedup_embedding_cosine_pairs", oracle=_embedding_oracle())
def dedup_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup at production threshold (cos >= 0.95)
    via the banded sign-LSH candidate -> exact-verify pipeline: bucket
    each centered doc vector in 4 hash tables of 12 sign bits
    (constants above; operators/similarity.py lsh_planes —
    deterministic difference-pair hyperplanes), equi-join narrow
    (id, table, bucket) rows for candidates, verify exact cosine per
    collision with AQE-broadcast vector attach, distinct the survivors
    (lsh_near_pairs_fused — 2 wide shuffles total). NO O(n^2)
    self-join anywhere (plan-shape-pinned); the oracle states the
    all-pairs form, so the green hash-match IS the proof that the
    banding recalls every qualifying pair on the fixture (also pinned
    against the Spark all-pairs twin at three SFs in tests). At corpus
    scale, bits_per_table grows ~log2(n/bucket) to bound bucket sizes;
    candidate cost stays near-linear while all-pairs is quadratic."""
    return _embedding_pairs_cached(spark, sf_dir)


def _rep_embedding_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-verified cosine near pairs among REPRESENTATIVES. The
    difference-pair hyperplanes are derived from the EXPANDED
    member-grain relation (leading 2*T*B vectors BY MEMBER id), so they
    are bit-identical to the raw build's planes — bucket(member) =
    bucket(its rep) then holds by vector equality, which makes the rep
    candidate set exactly the raw candidate set restricted to reps (no
    recall drift; the banding's empirical completeness pins carry
    over verbatim)."""
    from ..operators import similarity as S

    def build() -> DataFrame:
        e = _doc_vectors_cached(spark, sf_dir)
        planes = S.lsh_planes(
            e, _LSH_TABLES, _LSH_BITS, id_col="doc_id", vec_col="vec"
        )
        return S.lsh_near_pairs_fused(
            _rep_doc_vectors_cached(spark, sf_dir),
            planes,
            _COS_THRESHOLD,
            id_col="doc_id",
            vec_col="vec",
        )

    return C.family(spark, "dedup.rep_embedding_pairs", sf_dir, build)


def _embedding_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Member-grain LSH-verified near-pair relation — lazy expansion:
    cross pairs inherit the rep pair's cosine (identical vectors =>
    identical fold => identical double); within-group pairs carry the
    group's SELF-cosine dot(v,v)/(nrm*nrm) — the exact IEEE expression
    the raw verify computes for two identical vectors (NOT a 1.0
    literal: nrm*nrm re-rounds sqrt(d)^2, so d/(nrm*nrm) can sit an ulp
    off 1.0) — filtered at the same threshold. The registered pairs
    query, semdedup, and the cross-detector agreement audit consume
    this; nothing quadratic is persisted. Plan memoized (_plan_memo):
    three consumer entries re-built this identical plan per touch."""
    from ..functions.vectors import dot

    def build() -> DataFrame:
        m = _exact_rep_cached(spark, sf_dir)
        inter = D.expand_rep_pairs(
            m, _rep_embedding_pairs_cached(spark, sf_dir), ["cos"]
        )
        self_cos = _rep_doc_vectors_cached(spark, sf_dir).select(
            F.col("doc_id").alias("id"),
            (dot(F.col("vec"), F.col("vec")) / (F.col("nrm") * F.col("nrm"))).alias(
                "self_cos"
            ),
        ).filter(F.col("self_cos") >= _COS_THRESHOLD)
        intra = (
            D.intra_group_pairs(m, self_cos)
            .join(
                m.select(F.col("id").alias("id1"), "rep").join(
                    self_cos.select(F.col("id").alias("rep"), "self_cos"), "rep"
                ),
                "id1",
            )
            .select("id1", "id2", F.col("self_cos").alias("cos"))
        )
        return inter.unionAll(intra)

    return _plan_memo(spark, "dedup.embedding_pairs_expanded", sf_dir, build)


_SEMDEDUP_CELLS = 16


def _semdedup_oracle() -> str:
    from ..functions.vectors import dot_sql, norm_sql

    cos_ab = f"({dot_sql('ea.vec', 'eb.vec')} / (ea.nrm * eb.nrm))"
    cos_ec = f"({dot_sql('e.vec', 'cent.vec')} / (e.nrm * cent.nrm))"
    return f"""
    WITH {_doc_vec_sql()},
    lead16 AS (
      SELECT doc_id, vec FROM e WHERE nrm > 0 ORDER BY doc_id LIMIT {_SEMDEDUP_CELLS}
    ),
    cent AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS INT) AS cell_id,
             vec, {norm_sql("vec")} AS nrm
      FROM lead16
    ),
    asg AS (
      SELECT doc_id, cell_id FROM (
        SELECT e.doc_id, cent.cell_id,
               ROW_NUMBER() OVER (PARTITION BY e.doc_id
                 ORDER BY {cos_ec} DESC, cent.cell_id) AS rk
        FROM e CROSS JOIN cent
        WHERE e.nrm > 0
      ) WHERE rk = 1
    )
    SELECT a.doc_id, CAST(a.cell_id AS INT) AS cell_id,
           CASE WHEN EXISTS (
             SELECT 1
             FROM asg b
             JOIN e eb ON eb.doc_id = b.doc_id
             JOIN e ea ON ea.doc_id = a.doc_id
             WHERE b.cell_id = a.cell_id AND b.doc_id < a.doc_id
               AND {cos_ab} >= {_COS_THRESHOLD}
           ) THEN 0 ELSE 1 END AS kept
    FROM asg a
    """


@register("semdedup_keep_list", oracle=_semdedup_oracle())
def semdedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup keep-list: assign every doc vector
    to its nearest of 16 deterministic centroids (the first 16 docs —
    production k-means-refines them, identical plan shape), then WITHIN
    each cell drop any doc whose cosine to a lower-id cellmate is
    >= 0.95. Cells bound the pairwise work — #cells grows with the
    corpus so cell size stays constant, which is the entire point of
    cluster-then-dedup at 100 TB (the within-cell join is an equi-join
    on cell_id, never corpus-quadratic). One-pass conservative variant:
    a doc similar to an already-DROPPED lower id is still dropped
    (deterministic, non-iterative); the transitive keep-one-per-cluster
    form is dedup_cluster_canonical. Returns (doc_id, cell_id, kept).

    Round 5: the within-cell pairwise verify is served from the shared
    near-pair family (_embedding_pairs_cached — the same threshold and
    the same vectors, completeness pinned by the all-pairs twins), so
    this plan adds only the centroid assignment plus two tiny joins on
    the pair relation instead of re-running a within-cell cosine join.
    A pair qualifies iff both ends landed in the SAME cell; the higher
    id (id2) is the drop. At 100 TB the near-pair relation is computed
    once per corpus for the dedup family anyway — SemDeDup's cell
    structure then just partitions it; the standalone cell-bounded
    within-cell join remains the fallback when no near-pair relation
    exists (it was the registered shape through round 4).

    COMPLETENESS CAVEAT (round-5 advice): serving the verify from the
    LSH-candidate pair family couples this plan's completeness to that
    family's RECALL. On the fixture the coupling is harmless — recall
    is pinned exact by the all-pairs twins and the oracle at three SFs
    — but at corpus scale an LSH recall miss now propagates into
    semdedup too, instead of being caught by the cell-bounded exhaustive
    join. A deployment that tightens the LSH band constants for speed
    should either re-verify recall on a held-out sample or switch this
    plan back to the standalone cell-bounded within-cell cosine join —
    ``semdedup_keep_list_cell_bounded`` below, kept tested against this
    plan (tests/test_round6_ops.py::
    test_semdedup_cell_bounded_fallback_matches)."""
    from ..operators import similarity as S

    e = _doc_vectors_cached(spark, sf_dir)
    centroids = S._dense_index_small(
        e, "doc_id", "vec", _SEMDEDUP_CELLS, "cell_id"
    )
    asg = C.ephemeral(
        S.ivf_assign(e, centroids, n_probe=1, id_col="doc_id", vec_col="vec")
    )
    cells = asg.select(F.col("id").alias("doc_id"), F.col("cell_id").cast("int"))
    pairs = _embedding_pairs_cached(spark, sf_dir)
    dropped = (
        pairs.join(cells.select(F.col("doc_id").alias("id1"), F.col("cell_id").alias("cell1")), "id1")
        .join(cells.select(F.col("doc_id").alias("id2"), F.col("cell_id").alias("cell2")), "id2")
        .filter(F.col("cell1") == F.col("cell2"))
        .select(F.col("id2").alias("doc_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(0))
    )
    return cells.join(dropped, "doc_id", "left").select(
        "doc_id",
        "cell_id",
        F.coalesce(F.col("is_dropped"), F.lit(1)).cast("int").alias("kept"),
    )


def semdedup_keep_list_cell_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone cell-bounded fallback for ``semdedup_keep_list`` (the
    registered shape through round 4): the within-cell drop set comes
    from an EXHAUSTIVE cosine equi-join on cell_id rather than the LSH
    near-pair family, so its completeness does not depend on LSH recall.
    Strictly more compute (every within-cell pair is scored) but the
    join is still bounded by cell size, never corpus-quadratic. Use this
    shape when the LSH band constants are tuned for speed and recall is
    no longer pinned; tests keep it bit-identical to the registered plan
    on the fixtures."""
    from ..functions.vectors import dot, norm
    from ..operators import similarity as S

    e = _doc_vectors_cached(spark, sf_dir)
    centroids = S._dense_index_small(e, "doc_id", "vec", _SEMDEDUP_CELLS, "cell_id")
    asg = C.ephemeral(
        S.ivf_assign(e, centroids, n_probe=1, id_col="doc_id", vec_col="vec")
    )
    sides = asg.withColumn("nrm", norm(F.col("vec")))
    a = sides.select(
        F.col("id").alias("id_a"), F.col("vec").alias("va"),
        F.col("nrm").alias("na"), "cell_id",
    )
    b = sides.select(
        F.col("id").alias("id_b"), F.col("vec").alias("vb"),
        F.col("nrm").alias("nb"), "cell_id",
    )
    dropped = (
        a.join(b, "cell_id")
        .filter(F.col("id_b") < F.col("id_a"))
        .filter(
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
            >= _COS_THRESHOLD
        )
        .select(F.col("id_a").alias("doc_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(0))
    )
    return (
        asg.select(F.col("id").alias("doc_id"), F.col("cell_id").cast("int"))
        .join(dropped, "doc_id", "left")
        .select(
            "doc_id",
            "cell_id",
            F.coalesce(F.col("is_dropped"), F.lit(1)).cast("int").alias("kept"),
        )
    )


@register(
    "dedup_edit_distance_pairs",
    oracle="""
    SELECT a.p_partkey AS key1, b.p_partkey AS key2,
           a.p_name AS name1, b.p_name AS name2,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM part a
    JOIN part b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def dedup_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup with blocking: candidate pairs share a
    (brand, size) block — an equi-join, so Spark shuffles each block to
    one task instead of forming the quadratic cross product — then the
    O(len^2) levenshtein verify runs only within blocks (JVM built-in,
    codegen'd). The block key bounds pair count at scale the same way
    LSH bands do for minhash; with B blocks the verify cost drops by
    ~B^2/B = B versus all-pairs. dist <= 2 catches typo-grade dupes.

    PINNED METRIC (round-9 text-edge probe): edit distance over UTF-8
    BYTES, not code points. Spark's levenshtein is code-point based
    while DuckDB's is byte based — 'café' vs 'cafe' is 1 in Spark, 2 in
    DuckDB — so the Spark side round-trips each name through
    encode/decode(ISO-8859-1), mapping every UTF-8 byte to one
    Latin-1 char; levenshtein over that string IS the byte-level
    distance. ASCII names (the whole clean corpus) are unaffected."""
    p = load(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand", "p_size")
    a, b = p.alias("a"), p.alias("b")

    def _bytes(c):
        return F.decode(F.encode(c, "UTF-8"), "ISO-8859-1")

    dist = F.levenshtein(_bytes(F.col("a.p_name")), _bytes(F.col("b.p_name")))
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_size") == F.col("b.p_size"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .filter(dist <= 2)
        .select(
            F.col("a.p_partkey").alias("key1"),
            F.col("b.p_partkey").alias("key2"),
            F.col("a.p_name").alias("name1"),
            F.col("b.p_name").alias("name2"),
            dist.cast("int").alias("dist"),
        )
    )


# prefix-fingerprint dedup: docs sharing the first K normalized tokens
_PREFIX_K = 30


@register(
    "dedup_prefix_fingerprint",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id,
             md5(array_to_string(list_slice({_TOKS}, 1, {_PREFIX_K}), ' ')) AS prefix_fp
      FROM documents
      WHERE trim(text) <> ''
    )
    SELECT prefix_fp,
           MIN(doc_id) AS keeper_doc_id,
           {bigcount_sql()} AS group_size
    FROM fp
    GROUP BY prefix_fp
    HAVING COUNT(*) > 1
    """,
)
def dedup_prefix_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-fingerprint dedup: md5 over the first 30 normalized tokens
    catches truncation duplicates (same head, different tail) that
    whole-text hashing misses and full near-dup machinery is overkill
    for. One slice + hash + hash-aggregate — scan-speed at any scale;
    only groups with >1 member are emitted."""
    from ..functions.text import norm_tokens

    d = load(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    fp = F.md5(
        F.concat_ws(" ", F.slice(norm_tokens(F.col("text")), 1, _PREFIX_K))
    )
    return (
        d.groupBy(fp.alias("prefix_fp"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("group_size"))
        .filter(F.col("group_size") > 1)
    )


@register(
    "dedup_cluster_canonical",
    oracle=_COMPONENT_CTES + f"""
    , comp AS (SELECT id, MIN(root) AS component FROM reach GROUP BY id),
    quality AS (
      SELECT doc_id, (0.4 * {_STOPRATIO}
            + 0.3 * least({_AVGLEN} / 10.0, 1.0)
            + 0.3 * {_ALPHA}) AS q
      FROM documents
    ),
    ranked AS (
      SELECT c.id, c.component, q.q,
             ROW_NUMBER() OVER (
               PARTITION BY c.component ORDER BY q.q DESC, c.id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY c.component) AS cluster_size
      FROM comp c JOIN quality q ON q.doc_id = c.id
    )
    SELECT component, id AS canonical_doc_id,
           CAST(cluster_size AS BIGINT) AS cluster_size,
           q AS canonical_quality
    FROM ranked WHERE rn = 1
    """,
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection per near-dup cluster: the
    cleaning pipeline's keep-best step. Components assign every near-dup
    doc a cluster; within each cluster the KEPT doc is the
    highest-quality one (tiebreak: min doc_id), not blindly the min id —
    exactly what a production corpus dedup does so the best-written copy
    survives. Plan: the cached jaccard edges -> iterative min-label
    components (operators/dedup.py) -> broadcast-sized join to per-doc
    quality -> per-component top-1 window. Components are tiny relative
    to the corpus (only docs with a near-dup edge), so the window
    partitions are bounded by cluster size — no global window. The
    per-row double quality score is IEEE-identical in both engines, so
    ordering by it is deterministic (ties broken by id)."""
    from ..functions.text import quality_score
    from pyspark.sql import Window

    comp = _components_expanded(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), quality_score(F.col("text")).alias("q")
    )
    w = Window.partitionBy("component").orderBy(F.col("q").desc(), F.col("id"))
    wc = Window.partitionBy("component")
    return (
        comp.join(d, "id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("cluster_size", F.count("*").over(wc))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("id").alias("canonical_doc_id"),
            "cluster_size",
            F.col("q").alias("canonical_quality"),
        )
    )


@register(
    "doc_shingle_novelty",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id AS id, unnest({_SHINGLES}) AS sh
      FROM documents
    ),
    df AS (SELECT sh, COUNT(*) AS ndocs FROM sh GROUP BY sh)
    SELECT s.id AS doc_id,
           {bigcount_sql()} AS n_shingles,
           CAST(SUM(CASE WHEN df.ndocs = 1 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS novelty
    FROM sh s JOIN df ON df.sh = s.sh
    GROUP BY s.id
    ORDER BY doc_id
    """,
)
def doc_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level n-gram novelty score: the fraction of a document's
    distinct 3-word shingles that appear in NO other document — a cheap
    memorization/boilerplate proxy a training pipeline uses to up-weight
    novel text (the complement of a boilerplate ratio). Reuses the
    session-cached shingle relation shared by the whole dedup family;
    the plan is one groupBy(sh) doc-frequency aggregate, a shuffle join
    back on sh, and a per-doc aggregate — all map-side-combinable, no
    window. Exact-integer ratio -> double, deterministic. (Each (id,
    shingle) row is distinct by construction, so COUNT(*) per shingle
    IS the doc frequency.)"""
    sh = _shingles_cached(spark, sf_dir)
    df = sh.groupBy("sh").agg(F.count("*").alias("ndocs"))
    return (
        sh.join(df, "sh")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count("*").alias("n_shingles"),
            (
                F.sum(F.when(F.col("ndocs") == 1, 1).otherwise(0)).cast("double")
                / F.count("*").cast("double")
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


# reuse the components oracle verbatim as a derived table so the
# near-dup cluster definition cannot drift from the checked one
# (dedup_cluster_components is registered earlier in this module)
from ..catalog import REGISTRY as _REG

_DEDUP_RATE_ORACLE = f"""
    WITH comp AS (SELECT * FROM ({_REG["dedup_cluster_components"].oracle})),
    clustered AS (SELECT id FROM comp),
    d AS (SELECT doc_id, source, md5({_NORM}) AS fp FROM documents),
    per_src AS (
      SELECT source, {bigcount_sql()} AS n_docs,
             CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_exact_dup_extra
      FROM d GROUP BY source
    ),
    near AS (
      SELECT source, {bigcount_sql()} AS n_neardup_docs
      FROM d WHERE doc_id IN (SELECT id FROM clustered)
      GROUP BY source
    )
    SELECT p.source, p.n_docs, p.n_exact_dup_extra,
           CAST(COALESCE(n.n_neardup_docs, 0) AS BIGINT) AS n_neardup_docs,
           CAST(p.n_exact_dup_extra AS DOUBLE) / CAST(p.n_docs AS DOUBLE)
             AS exact_dup_pct
    FROM per_src p LEFT JOIN near n ON n.source = p.source
    ORDER BY p.source
"""


@register("corpus_dedup_rate_by_source", oracle=_DEDUP_RATE_ORACLE)
def corpus_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication report — the corpus-health dashboard every
    dedup pipeline emits before/after cleaning: document count, exact
    duplicates beyond each group's keeper (n_docs - distinct
    fingerprints), members of >=0.8-Jaccard near-dup clusters, and the
    exact-dup percentage. Composes the session-cached exact-fingerprint
    aggregate and connected-components relations (everything here is a
    previously-oracle-checked stage); per-source rollup is a tiny
    keyed aggregate plus a semi-join against the component membership
    (every member is a near-dup by construction — components has no
    singletons). Ratios are exact-integer -> one IEEE divide.

    Round-12 note: a concurrent three-chain warm fronted by this entry
    (build MinHash/SimHash/embedding families on threads) was tried and
    REVERTED — 5-rep A/B (tests/ab_heavies.py base vs no_warm) measured
    identical subset totals (~32.4 s median both ways; the chains are
    CPU-bound, so overlap buys nothing) while tripling this entry's
    noise cross-section (11.1 s vs 5.8 s median). See
    OPTIMIZATION_r12.md."""
    d = doc_fp_cached(spark, sf_dir)
    # every component member IS a near-dup: connected_components only
    # emits nodes that appear in a >=0.8-Jaccard edge, so no cluster-
    # size filter is needed (a singleton component cannot exist)
    clustered = _components_expanded(spark, sf_dir).select(
        F.col("id").alias("doc_id")
    )
    per_src = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        (F.count("*") - F.count_distinct("fp")).alias("n_exact_dup_extra"),
    )
    near = (
        d.join(clustered, "doc_id", "left_semi")
        .groupBy("source")
        .agg(F.count("*").alias("n_neardup_docs"))
    )
    return (
        per_src.join(near, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_exact_dup_extra",
            F.coalesce(F.col("n_neardup_docs"), F.lit(0)).cast("bigint").alias(
                "n_neardup_docs"
            ),
            (
                F.col("n_exact_dup_extra").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("exact_dup_pct"),
        )
        .orderBy("source")
    )


_MH_MATCH = " + ".join(
    f"CASE WHEN a.sig{h} = b.sig{h} THEN 1 ELSE 0 END" for h in range(D.NUM_HASHES)
)


@register(
    "dedup_minhash_estimate_accuracy",
    oracle=_SHINGLE_CTES + f"""
    , est AS (
      SELECT c.id1, c.id2,
             CAST({_MH_MATCH} AS DOUBLE) / {D.NUM_HASHES}.0 AS est_jaccard
      FROM cands c JOIN sigs a ON a.id = c.id1 JOIN sigs b ON b.id = c.id2
    ),
    sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    inter AS (
      SELECT c.id1, c.id2, COUNT(*) AS i
      FROM cands c JOIN sh s1 ON s1.id = c.id1
      JOIN sh s2 ON s2.id = c.id2 AND s2.sh = s1.sh
      GROUP BY c.id1, c.id2
    ),
    ex AS (
      SELECT i.id1, i.id2,
             CAST(i.i AS DOUBLE) / CAST(n1.n + n2.n - i.i AS DOUBLE) AS jaccard
      FROM inter i JOIN sizes n1 ON n1.id = i.id1 JOIN sizes n2 ON n2.id = i.id2
    )
    SELECT e.id1, e.id2, e.est_jaccard, x.jaccard AS exact_jaccard,
           abs(e.est_jaccard - x.jaccard) AS abs_err
    FROM est e JOIN ex x ON x.id1 = e.id1 AND x.id2 = e.id2
    ORDER BY e.id1, e.id2
    """,
)
def dedup_minhash_estimate_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality audit of the MinHash sketch: for every LSH
    candidate pair, the signature-agreement estimate of Jaccard
    (matching slots / 8 — the unbiased MinHash estimator) next to the
    exact shingle-set Jaccard and the absolute error. This is the
    calibration readout that justifies (or indicts) the 8-hash/4-band
    budget before trusting it at corpus scale — the dedup twin of
    ann_eval_lsh_recall_mrr. All relations come from the session-cached
    shingle/candidate/jaccard family, so the marginal cost is two
    signature joins over the candidate list; the estimate is an exact
    small-integer ratio and the error a single correctly-rounded IEEE
    subtraction."""
    cands = _candidates_expanded(spark, sf_dir)
    sigs = _sigs_cached(spark, sf_dir)
    match = sum(
        F.when(F.col(f"a.sig{h}") == F.col(f"b.sig{h}"), 1).otherwise(0)
        for h in range(D.NUM_HASHES)
    )
    est = (
        cands.join(sigs.alias("a"), F.col("id1") == F.col("a.id"))
        .join(sigs.alias("b"), F.col("id2") == F.col("b.id"))
        .select(
            "id1",
            "id2",
            (match.cast("double") / float(D.NUM_HASHES)).alias("est_jaccard"),
        )
    )
    exact = _jaccard_expanded(spark, sf_dir).select(
        "id1", "id2", F.col("jaccard").alias("exact_jaccard")
    )
    return (
        est.join(exact, ["id1", "id2"])
        .select(
            "id1",
            "id2",
            "est_jaccard",
            "exact_jaccard",
            F.abs(F.col("est_jaccard") - F.col("exact_jaccard")).alias("abs_err"),
        )
        .orderBy("id1", "id2")
    )


# end-to-end pretraining-batch pipeline: packing budget per batch
_PACK_BUDGET = 512
# decontamination params mirror plans/textops.py (benchmark = every
# 97th doc; contaminated at >= 0.5 distinct-trigram overlap)
from .textops import _NTOK as _PIPE_NTOK


@register(
    "pipeline_pretraining_batches",
    oracle=_SHINGLE_CTES + f"""
    , sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    inter AS (
      SELECT c.id1, c.id2, COUNT(*) AS i
      FROM cands c
      JOIN sh s1 ON s1.id = c.id1
      JOIN sh s2 ON s2.id = c.id2 AND s2.sh = s1.sh
      GROUP BY c.id1, c.id2
    ),
    neardup_losers AS (
      SELECT DISTINCT i.id2 AS id
      FROM inter i JOIN sizes n1 ON n1.id = i.id1 JOIN sizes n2 ON n2.id = i.id2
      WHERE CAST(i.i AS DOUBLE) / CAST(n1.n + n2.n - i.i AS DOUBLE) >= 0.8
    ),
    exact_keepers AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5({_NORM})
    ),
    bench AS (
      SELECT DISTINCT sh AS gram FROM sh WHERE id % 97 = 0
    ),
    contaminated AS (
      SELECT g.id
      FROM (SELECT DISTINCT id, sh FROM sh WHERE id % 97 <> 0) g
      LEFT JOIN bench ON bench.gram = g.sh
      GROUP BY g.id
      HAVING CAST(COUNT(*) FILTER (WHERE bench.gram IS NOT NULL) AS DOUBLE)
             / CAST(greatest(COUNT(*), 1) AS DOUBLE) >= 0.5
    ),
    clean AS (
      SELECT d.doc_id, d.source,
             (0.4 * {_STOPRATIO}
            + 0.3 * least({_AVGLEN} / 10.0, 1.0)
            + 0.3 * {_ALPHA}) AS quality,
             CAST({_PIPE_NTOK} AS BIGINT) AS n_tok
      FROM documents d
      JOIN exact_keepers k ON k.doc_id = d.doc_id
      WHERE (0.4 * {_STOPRATIO}
            + 0.3 * least({_AVGLEN} / 10.0, 1.0)
            + 0.3 * {_ALPHA}) >= 0.39
        AND d.doc_id % 97 <> 0
        AND d.doc_id NOT IN (SELECT id FROM neardup_losers)
        AND d.doc_id NOT IN (SELECT id FROM contaminated)
    ),
    packed AS (
      SELECT source, quality, n_tok,
             CAST((SUM(n_tok) OVER (PARTITION BY source
                                    ORDER BY quality DESC, doc_id
                                    ROWS UNBOUNDED PRECEDING) - n_tok)
                  // {_PACK_BUDGET} AS BIGINT) AS batch_id
      FROM clean
    )
    SELECT source, batch_id,
           {bigcount_sql()} AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM packed GROUP BY source, batch_id
    ORDER BY source, batch_id
    """,
)
def pipeline_pretraining_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE pretraining-data pipeline as one plan: quality
    filter (>= 0.39) -> exact dedup (min-id keeper) -> near-dup removal
    (>= 0.8 LSH-verified Jaccard losers) -> benchmark decontamination
    (>= 0.5 distinct-shingle overlap with the held-out doc_id%97 set,
    benchmark docs themselves excluded) -> greedy sequence packing of
    the survivors into 512-token batches, best-quality-first per
    source. The cleaning stages are pipeline_clean_corpus CALLED
    directly (not re-stated), decontamination mirrors
    decontam_trigram_overlap over the cached shingle relation, and the
    packing is the pack_sequences_by_budget move — the demo that the
    engine's pieces snap together into the actual production job. The
    shingle/candidate/jaccard relations come from the session cache;
    batch assignment is the EXCLUSIVE running-token div (a doc starting
    inside the budget joins the batch; overflow starts the next), so
    the output is the per-(source, batch) manifest. Decontamination
    reuses the dedup family's 3-shingle grams (same normalization) so
    one cached relation feeds both stages."""
    from ..functions.text import token_count

    d = load(spark, sf_dir, "documents")
    sh = _shingles_cached(spark, sf_dir)
    bench = (
        sh.filter(F.col("id") % 97 == 0)
        .select(F.col("sh").alias("gram"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    contaminated = (
        sh.filter(F.col("id") % 97 != 0)
        .select("id", F.col("sh").alias("gram"))
        .distinct()
        .join(F.broadcast(bench), "gram", "left")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("hit").alias("n_shared"),
        )
        .filter(
            F.col("n_shared").cast("double")
            / F.greatest(F.col("n_grams"), F.lit(1)).cast("double")
            >= 0.5
        )
        .select(F.col("id").alias("doc_id"))
    )
    # the quality/exact-dedup/near-dup stages ARE pipeline_clean_corpus —
    # composed structurally, not re-stated, so the thresholds cannot drift
    survivors = pipeline_clean_corpus(spark, sf_dir).withColumnRenamed(
        "quality_score", "quality"
    )
    clean = (
        d.join(survivors, "doc_id")
        .withColumn("n_tok", token_count(F.col("text")))
        .filter(F.col("doc_id") % 97 != 0)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "source", "quality", "n_tok")
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("source")
        .orderBy(F.col("quality").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = clean.withColumn("cum", F.sum("n_tok").over(w)).withColumn(
        "batch_id",
        F.expr(f"cast((cum - n_tok) div {_PACK_BUDGET} as bigint)"),
    )
    return (
        packed.groupBy("source", "batch_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
        .orderBy("source", "batch_id")
    )


def _family_agreement_oracle() -> str:
    from ..catalog import REGISTRY as _R

    return f"""
    WITH mh AS (SELECT id1, id2 FROM ({_R["dedup_jaccard_verified"].oracle})),
    sh AS (SELECT id1, id2 FROM ({_R["dedup_simhash_near_pairs"].oracle})),
    em AS (SELECT id1, id2 FROM ({_R["dedup_embedding_cosine_pairs"].oracle})),
    u AS (
      SELECT id1, id2,
             MAX(in_mh) AS in_mh, MAX(in_sh) AS in_sh, MAX(in_em) AS in_em
      FROM (
        SELECT id1, id2, 1 AS in_mh, 0 AS in_sh, 0 AS in_em FROM mh
        UNION ALL
        SELECT id1, id2, 0, 1, 0 FROM sh
        UNION ALL
        SELECT id1, id2, 0, 0, 1 FROM em
      ) GROUP BY id1, id2
    )
    SELECT CAST(SUM(in_mh) AS BIGINT) AS n_minhash,
           CAST(SUM(in_sh) AS BIGINT) AS n_simhash,
           CAST(SUM(in_em) AS BIGINT) AS n_embedding,
           CAST(SUM(in_mh * in_sh) AS BIGINT) AS n_mh_sh,
           CAST(SUM(in_mh * in_em) AS BIGINT) AS n_mh_em,
           CAST(SUM(in_sh * in_em) AS BIGINT) AS n_sh_em,
           CAST(SUM(in_mh * in_sh * in_em) AS BIGINT) AS n_all3,
           CAST(COUNT(*) AS BIGINT) AS n_any
    FROM u
    """


@register("dedup_family_agreement", oracle=_family_agreement_oracle())
def dedup_family_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-detector agreement report over the three near-dup families
    (MinHash+Jaccard-verified, SimHash hamming<=3, embedding-cosine
    LSH): pair counts per detector, every pairwise overlap, the
    three-way core, and the union — the audit a dedup rollout runs to
    decide which detectors are redundant and which catch unique dup
    classes. One union + one (id1, id2) hash aggregate over three
    pair relations that are each already bounded by their banding;
    the MinHash and SimHash inputs come from the shared family caches,
    so the report costs three aggregates when run after its
    components."""
    mh = (
        _jaccard_expanded(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.8)
        .select("id1", "id2", F.lit(1).alias("in_mh"), F.lit(0).alias("in_sh"),
                F.lit(0).alias("in_em"))
    )
    sh = _simhash_pairs_expanded(spark, sf_dir).select(
        "id1", "id2", F.lit(0).alias("in_mh"), F.lit(1).alias("in_sh"),
        F.lit(0).alias("in_em"),
    )
    em = _embedding_pairs_cached(spark, sf_dir).select(
        "id1", "id2", F.lit(0).alias("in_mh"), F.lit(0).alias("in_sh"),
        F.lit(1).alias("in_em"),
    )
    u = (
        mh.unionAll(sh)
        .unionAll(em)
        .groupBy("id1", "id2")
        .agg(
            F.max("in_mh").alias("in_mh"),
            F.max("in_sh").alias("in_sh"),
            F.max("in_em").alias("in_em"),
        )
    )
    return u.agg(
        F.sum("in_mh").cast("bigint").alias("n_minhash"),
        F.sum("in_sh").cast("bigint").alias("n_simhash"),
        F.sum("in_em").cast("bigint").alias("n_embedding"),
        F.sum(F.col("in_mh") * F.col("in_sh")).cast("bigint").alias("n_mh_sh"),
        F.sum(F.col("in_mh") * F.col("in_em")).cast("bigint").alias("n_mh_em"),
        F.sum(F.col("in_sh") * F.col("in_em")).cast("bigint").alias("n_sh_em"),
        F.sum(F.col("in_mh") * F.col("in_sh") * F.col("in_em"))
        .cast("bigint")
        .alias("n_all3"),
        F.count("*").cast("bigint").alias("n_any"),
    )
