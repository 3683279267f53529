"""Deduplication operators (SURVEY.md §2.9): exact, n-gram Jaccard,
MinHash-LSH, SimHash, embedding-cosine.

Scale architecture: every near-dup variant avoids the O(n²) cross join —
candidate pairs come from an inverted-index / banding join (docs sharing a
shingle / LSH bucket / hash band), which is the only shape that survives a
100 TB corpus. The exact-similarity refinement then runs only on
candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import load_tables
from ..ordering import materialize
from ..registry import query


@query(
    "q_dedup_exact",
    oracle="""
        WITH hashed AS (
            SELECT doc_id, text, lang, source,
                   sha256(lower(trim(text))) AS h
            FROM documents
        ), ranked AS (
            SELECT doc_id, h,
                   row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
            FROM hashed
        )
        SELECT doc_id, h AS content_hash FROM ranked WHERE rn = 1
    """,
    doc="Exact dedup: normalize → sha256 → keep lowest doc_id per hash.",
    bench=True,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-groupBy dedup — one shuffle on the content hash. The
    row_number/keep-first pattern preserves a deterministic survivor
    (lowest doc_id) rather than dropDuplicates' arbitrary one."""
    t = load_tables(spark, sf_dir)
    hashed = t["documents"].select(
        "doc_id", F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("content_hash")
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "content_hash")
    )


@query(
    "q_dedup_keep_best",
    oracle="""
        WITH scored AS (
            SELECT doc_id,
                   sha256(lower(trim(text))) AS content_hash,
                   round(
                     0.5 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                            / len(string_split(text, ' ')))
                     + 0.25 * (CASE WHEN len(string_split(text, ' ')) >= 20
                               THEN 1.0 ELSE 0.0 END)
                     + 0.25 * (CASE WHEN n_chars BETWEEN 100 AND 600
                               THEN 1.0 ELSE 0.0 END),
                     6) AS quality_score
            FROM documents
        ), ranked AS (
            SELECT *,
                   row_number() OVER (
                       PARTITION BY content_hash
                       ORDER BY quality_score DESC, doc_id
                   ) AS rn,
                   CAST(count(*) OVER (PARTITION BY content_hash) AS BIGINT)
                       AS n_copies
            FROM scored
        )
        SELECT doc_id, content_hash, quality_score, n_copies
        FROM ranked WHERE rn = 1
    """,
    doc="Policy dedup (round 7): per exact-content cluster keep the "
    "HIGHEST-QUALITY copy (q_text_quality's score), not the lowest id — "
    "the survivor rule real corpus builds want.",
    bench=True,
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dedup_exact's survivor rule (lowest doc_id) is arbitrary; a
    training-corpus build wants the best-formatted copy. Same ONE
    shuffle on the content hash, but the keep-rank orders by the
    lexical-diversity/length quality score (identical exact-int ratio
    arithmetic on both engines, rounded to 6 dp BEFORE ranking so the
    sort key IS the output column), doc_id tie-break. n_copies carries
    the cluster size so downstream mixing can up-weight deduplicated
    mass. rank<=1 compiles to WindowGroupLimit — per-task bounded heaps,
    no second pass, same 100 TB posture as q_dedup_exact."""
    t = load_tables(spark, sf_dir)
    n_tokens = F.size(_toks())
    n_unique = F.size(F.array_distinct(_toks()))
    score = F.round(
        0.5 * (n_unique.cast("double") / n_tokens)
        + 0.25 * F.when(n_tokens >= 20, 1.0).otherwise(0.0)
        + 0.25 * F.when(F.col("n_chars").between(100, 600), 1.0).otherwise(0.0),
        6,
    )
    scored = t["documents"].select(
        "doc_id",
        F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("content_hash"),
        score.alias("quality_score"),
    )
    w = Window.partitionBy("content_hash").orderBy(
        F.desc("quality_score"), "doc_id"
    )
    wc = Window.partitionBy("content_hash")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .withColumn("n_copies", F.count("*").over(wc))
        .filter(F.col("rn") == 1)
        .select("doc_id", "content_hash", "quality_score", "n_copies")
    )


@query(
    "q_dedup_incremental",
    oracle="""
        WITH hashed AS (
            SELECT doc_id, sha256(lower(trim(text))) AS content_hash,
                   (doc_id % 7 = 0) AS is_batch
            FROM documents
            WHERE text IS NOT NULL
        ), corpus AS (
            SELECT DISTINCT content_hash FROM hashed WHERE NOT is_batch
        )
        SELECT b.doc_id, b.content_hash
        FROM hashed b
        WHERE b.is_batch
          AND NOT EXISTS (SELECT 1 FROM corpus c
                          WHERE c.content_hash = b.content_hash)
        ORDER BY b.doc_id
    """,
    doc="Incremental-ingest dedup (round 7): a new batch (doc_id%7==0) "
    "anti-joined on content hash against the historical corpus — only "
    "never-seen documents survive into the next training snapshot.",
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-crawl shape: dedup is rarely a one-shot global job —
    each incoming batch is screened against everything already ingested.
    Expressed as a LEFT ANTI join on the content hash (one shuffle; at
    100 TB the historical side is a bucketed hash table or a Bloom
    pre-filter feeding this exact plan — the anti-join IS the exact
    fallback either way). The batch/corpus split is a deterministic
    hash-style predicate on doc_id so both engines carve identical
    sides. Survivors keep their hash so the caller can append them to
    the corpus index without recomputing it."""
    t = load_tables(spark, sf_dir)
    # NULL text is filtered explicitly (not fixture-reliant): a NULL
    # hash in the corpus would empty a NOT IN oracle (three-valued
    # logic) while Spark's anti join keeps NULL-key probe rows — the
    # two engines' NULL semantics must never be load-bearing here. The
    # oracle mirrors with WHERE text IS NOT NULL + NOT EXISTS.
    hashed = (
        t["documents"]
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("content_hash"),
            (F.col("doc_id") % 7 == 0).alias("is_batch"),
        )
    )
    batch = hashed.filter(F.col("is_batch")).select("doc_id", "content_hash")
    corpus = (
        hashed.filter(~F.col("is_batch")).select("content_hash").distinct()
    )
    return (
        batch.join(corpus, "content_hash", "left_anti")
        .select("doc_id", "content_hash")
        .orderBy("doc_id")
    )


def keep_best_duplicates(docs: DataFrame) -> DataFrame:
    """Parameterized keep-best dedup engine (round 7 — the api.dedup
    'keep_best' method): q_dedup_keep_best's survivor rule over a
    caller-chosen (doc_id, text) table. Non-survivors point at the
    HIGHEST-QUALITY copy in their exact-content cluster (quality =
    q_text_quality's score with n_chars computed as length(text), since
    caller tables carry no precomputed char count; doc_id tie-break).
    Output: (doc_id, canonical_id, content_hash) — the exact_duplicates
    shape with a different canonical. One shuffle on the content hash."""
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    n_unique = F.size(F.array_distinct(toks))
    score = (
        0.5 * (n_unique.cast("double") / n_tokens)
        + 0.25 * F.when(n_tokens >= 20, 1.0).otherwise(0.0)
        + 0.25
        * F.when(F.length(F.col("text")).between(100, 600), 1.0).otherwise(0.0)
    )
    scored = docs.select(
        "doc_id",
        F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("content_hash"),
        F.round(score, 6).alias("_q"),
    )
    w = Window.partitionBy("content_hash").orderBy(F.desc("_q"), "doc_id")
    return (
        scored.withColumn("canonical_id", F.first("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("canonical_id"))
        .select("doc_id", "canonical_id", "content_hash")
    )


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Parameterized exact-dedup engine (round 6 — the api.dedup()
    surface): over (doc_id, text) rows, normalize → sha256 → group on
    the content hash (ONE shuffle), and return only the NON-survivors,
    each pointing at its deterministic canonical (lowest doc_id in the
    hash group — the q_dedup_exact survivor rule inverted). Output:
    (doc_id, canonical_id, content_hash). An exact-duplicate-free input
    yields an empty result."""
    hashed = docs.select(
        "doc_id",
        F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("content_hash"),
    )
    w = Window.partitionBy("content_hash")
    return (
        hashed.withColumn("canonical_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("canonical_id"))
        .select("doc_id", "canonical_id", "content_hash")
    )


def _toks():
    # built lazily: Column construction needs an active SparkContext
    return F.split(F.col("text"), " ")


def _shingle_df(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles) with 3-token shingles as a distinct array.

    Sliding 3-grams come from arrays_zip of three shifted slices, NOT from
    transform(sequence, i -> element_at(ts, i)…): CollapseProject inlines
    the split() into every element_at reference, so the lambda form
    re-splits the text per element (~150 splits/doc — measured 5.3s for 5k
    docs at sf0.1 vs 0.9s for the zip-slices form, which references the
    tokens a constant number of times per ROW)."""
    ts = F.col("ts")
    # greatest(…, 0): documents with <3 tokens must yield an empty shingle
    # list, not a negative slice length (Spark throws INVALID_PARAMETER_VALUE
    # on slice(…, -1); the oracle's range() form is naturally empty)
    n = F.greatest(F.size(ts) - 2, F.lit(0))
    zipped = F.arrays_zip(F.slice(ts, 1, n), F.slice(ts, 2, n), F.slice(ts, 3, n))
    shingles = F.array_distinct(
        F.transform(zipped, lambda s: F.concat_ws(" ", s["0"], s["1"], s["2"]))
    )
    return docs.select("doc_id", _toks().alias("ts")).select(
        "doc_id", shingles.alias("shingles")
    )


_NGRAM_ORACLE = """
    WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, len(string_split(text, ' ')) - 1),
                   i -> concat(string_split(text, ' ')[i], ' ',
                               string_split(text, ' ')[i+1], ' ',
                               string_split(text, ' ')[i+2]))) AS shingles
        FROM documents
    ), sizes AS (
        SELECT doc_id, len(shingles) AS n FROM sh
    ), inv AS (
        SELECT doc_id, unnest(shingles) AS s FROM sh
    ), shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(c AS DOUBLE) / (x.n + y.n - c), 6) AS jaccard
    FROM shared
    JOIN sizes x ON doc_a = x.doc_id
    JOIN sizes y ON doc_b = y.doc_id
    WHERE CAST(c AS DOUBLE) / (x.n + y.n - c) >= 0.5
"""


@query(
    "q_dedup_ngram",
    oracle=_NGRAM_ORACLE,
    doc="Near-dup via exact 3-gram-shingle Jaccard ≥ 0.5, with inverted-"
    "index candidate generation (no cross join).",
    bench=True,
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs come from an inverted-index self-join on shingles
    (docs sharing ≥1 shingle), then the exact Jaccard refines. At 100 TB
    the index join shuffles on the shingle key — bounded by true overlap,
    not corpus²; hot shingles would be frequency-capped (drop shingles
    with df above a threshold), the standard guard documented here and
    unnecessary at fixture scale.

    The intersection size comes straight from the inverted-index join
    (count of shared shingles per candidate pair) and |A∪B| = |A|+|B|−|A∩B|
    from broadcast-joined per-doc sizes — no shingle ARRAYS are carried
    through the shuffle (array-carrying refine measured 20× slower). Join
    keys are xxhash64 of the shingle (8-byte vs ~20-byte shuffle keys,
    ~20% faster; a 64-bit collision would need ~2^32 distinct shingles).

    Two variants were measured at sf0.1 before settling here: prefix
    filtering (AllPairs/PPJoin) LOSES on this corpus because the shingle
    df distribution is uniform (max df 25 — no hot tokens to prune), so
    its extra window pass + array refine cost more than it saves. On a
    skewed real-world corpus the prefix/frequency-cap guard becomes the
    right tool; at fixture scale the plain postings join is optimal.

    Jaccard = c / (nA + nB − c) is an int/int division → exact on both
    engines; the 0.5 threshold compares identical doubles."""
    t = load_tables(spark, sf_dir)
    # cap explicitly disabled: the DuckDB oracle is uncapped, the fixture
    # is uniform (max shingle df 25 — the library's auto floor of 100
    # could never trigger), and leaving it off keeps the benched plan
    # free of the guard's extra aggregate+anti-join
    return ngram_jaccard_pairs(t["documents"], max_shingle_df=None)


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    max_shingle_df: int | None | str = "auto",
) -> DataFrame:
    """Inverted-index 3-shingle Jaccard pairs (the q_dedup_ngram engine).

    ``max_shingle_df`` is the hot-shingle guard for skewed corpora: a
    shingle occurring in more than ``max_shingle_df`` documents (a stop
    phrase, boilerplate header…) contributes O(df²) candidate pairs while
    carrying almost no similarity signal — on a skewed real-world corpus
    the postings self-join melts without this cap. Capped shingles are
    dropped from CANDIDATE GENERATION only; per-doc set sizes keep
    counting them, so the estimated Jaccard is a LOWER bound of the true
    value (a capped-out pair can only be missed, never over-reported).

    ``"auto"`` (the default) caps at max(100, ceil(1e-4 · n_docs)),
    computed in-plan — a shingle in >0.01% of a large corpus is
    boilerplate, and the floor keeps small corpora (like the fixtures,
    max df 25) effectively uncapped so exact semantics hold where the
    guard can't trigger. ``None`` disables the guard entirely — the
    declared oracle-checked key passes it explicitly so the benched plan
    carries no guard shuffle; an int is a fixed cap. Bounded-candidate
    behavior under skew is proven in tests/test_skew_bucketing.py.
    """
    sh = _shingle_df(docs)
    # carry |A| inside the postings so no size-lookup join is needed later
    # (the separate broadcast size joins re-ran the shingle subplan twice
    # more — 4 scans total, measured); hint("merge") keeps the self-join a
    # shuffle join, whose per-side cost is one shingle pass. Net: 4 shingle
    # evaluations → 2, and sf0.1 wall time 3.3s → 1.6s warm.
    inv = (
        sh.select("doc_id", F.size("shingles").alias("n"), F.explode("shingles").alias("s"))
        .select("doc_id", "n", F.xxhash64("s").alias("s"))
    )
    # materialize() the postings (round 15): the self-join consumes
    # ``inv`` on BOTH sides (and the df-cap branch a third time), and
    # Catalyst cannot share the diamond — each consumer re-ran the
    # scan + tokenize + shingle + explode + xxhash chain. One lazy
    # localCheckpoint computes the postings once; every consumer reads
    # the same executor-local (doc_id, n, s-hash) blocks — 24
    # B/posting, far smaller than re-reading and re-exploding the text
    # corpus, which is the 100 TB rationale (tokenize/shingle is the
    # CPU-heavy half). At fixture scale the two shapes measure within
    # noise of each other (fresh-plan min-of-4 at sf0.1: 1.49–1.64 s
    # plain vs 1.54–1.59 s pinned), so the pin is a scale choice, not
    # a bench tune. Row-identical output (deterministic subtree).
    inv = materialize(inv)
    if max_shingle_df is not None:
        # one aggregate on the postings finds the hot keys (few by
        # definition → AQE broadcasts the anti-join build side); sizes n
        # were computed BEFORE the cap, preserving the lower-bound rule
        df_counts = inv.groupBy("s").agg(F.count("*").alias("_df"))
        if max_shingle_df == "auto":
            # corpus-relative cap from an in-plan 1-row aggregate (no
            # driver-side count): boilerplate = df > 0.01% of docs,
            # floored at 100 so small corpora stay effectively uncapped
            n_docs = docs.select(F.count("*").alias("_n_docs"))
            hot = df_counts.crossJoin(F.broadcast(n_docs)).filter(
                F.col("_df")
                > F.greatest(F.lit(100), F.ceil(F.lit(1e-4) * F.col("_n_docs")))
            )
        else:
            hot = df_counts.filter(F.col("_df") > max_shingle_df)
        inv = inv.join(hot.select("s"), "s", "left_anti")
    pairs = (
        inv.alias("a")
        .hint("merge")
        .join(
            inv.alias("b").hint("merge"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count("*").alias("c"))
    )
    jac = F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        pairs.filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


_CLUSTER_ORACLE = """
    WITH RECURSIVE hashed AS (
        SELECT doc_id, sha256(lower(trim(text))) AS h FROM documents
    ), exact_edges AS (
        SELECT m AS doc_a, doc_id AS doc_b FROM (
            SELECT doc_id, min(doc_id) OVER (PARTITION BY h) AS m FROM hashed
        ) WHERE m <> doc_id
    ), sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, len(string_split(text, ' ')) - 1),
                   i -> concat(string_split(text, ' ')[i], ' ',
                               string_split(text, ' ')[i+1], ' ',
                               string_split(text, ' ')[i+2]))) AS shingles
        FROM documents
    ), sizes AS (
        SELECT doc_id, len(shingles) AS n FROM sh
    ), inv AS (
        SELECT doc_id, unnest(shingles) AS s FROM sh
    ), shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), ngram_edges AS (
        SELECT doc_a, doc_b
        FROM shared
        JOIN sizes x ON doc_a = x.doc_id
        JOIN sizes y ON doc_b = y.doc_id
        WHERE CAST(c AS DOUBLE) / (x.n + y.n - c) >= 0.5
    ), base AS (
        SELECT doc_a, doc_b FROM exact_edges
        UNION
        SELECT doc_a, doc_b FROM ngram_edges
    ), edges AS (
        SELECT doc_a AS s, doc_b AS d FROM base
        UNION
        SELECT doc_b, doc_a FROM base
    ), reach(node, label) AS (
        SELECT s, s FROM edges
        UNION
        SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.node
    ), comp AS (
        SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node
    )
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM comp
"""


_CONTAMINATION_ORACLE = """
    WITH sh AS (
        SELECT doc_id,
               doc_id % 10 = 0 AS is_eval,
               list_distinct(list_transform(
                   range(1, len(string_split(text, ' ')) - 1),
                   i -> concat(string_split(text, ' ')[i], ' ',
                               string_split(text, ' ')[i+1], ' ',
                               string_split(text, ' ')[i+2]))) AS shingles
        FROM documents
    ), inv AS (
        SELECT doc_id, is_eval, len(shingles) AS n, unnest(shingles) AS s
        FROM sh
    ), shared AS (
        SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc,
               e.n AS n_eval, count(*) AS shared_shingles
        FROM inv t JOIN inv e ON t.s = e.s
        WHERE NOT t.is_eval AND e.is_eval
        GROUP BY 1, 2, 3
    )
    SELECT train_doc, eval_doc, shared_shingles,
           round(CAST(shared_shingles AS DOUBLE) / n_eval, 6) AS containment
    FROM shared
    WHERE CAST(shared_shingles AS DOUBLE) / n_eval >= 0.3
"""


@query(
    "q_contamination",
    oracle=_CONTAMINATION_ORACLE,
    doc="Benchmark-contamination scan: training docs whose 3-gram overlap "
    "covers ≥30% of an eval doc's shingles (containment, not Jaccard).",
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The train-vs-benchmark decontamination pass every LLM data pipeline
    runs before training: find training documents that CONTAIN an eval
    document's n-grams (one-sided containment c/|eval| — Jaccard would
    hide a short benchmark prompt embedded in a long web page). The
    eval set here is the deterministic doc_id%10==0 slice standing in for
    a benchmark suite; a real deployment passes its own eval corpus.

    Same inverted-index shape as q_dedup_ngram — candidates are docs
    sharing ≥1 shingle (bounded by true overlap, never |train|×|eval|),
    intersection size comes from the postings-join count, and only 8-byte
    hashed shingle keys cross the shuffle. The eval side is a tiny
    fraction of the corpus, so at 100 TB the join's build side stays
    small; containment = int/int division → exact on both engines."""
    t = load_tables(spark, sf_dir)
    sh = _shingle_df(t["documents"]).withColumn(
        "is_eval", F.col("doc_id") % 10 == 0
    )
    inv = sh.select(
        "doc_id",
        "is_eval",
        F.size("shingles").alias("n"),
        F.explode("shingles").alias("s"),
    ).select("doc_id", "is_eval", "n", F.xxhash64("s").alias("s"))
    train = inv.filter(~F.col("is_eval")).select(
        F.col("doc_id").alias("train_doc"), "s"
    )
    ev = inv.filter(F.col("is_eval")).select(
        F.col("doc_id").alias("eval_doc"), F.col("n").alias("n_eval"), "s"
    )
    shared = (
        train.join(ev, "s")
        .groupBy("train_doc", "eval_doc", "n_eval")
        .agg(F.count("*").alias("shared_shingles"))
    )
    containment = F.col("shared_shingles").cast("double") / F.col("n_eval")
    return (
        shared.filter(containment >= 0.3)
        .select(
            "train_doc",
            "eval_doc",
            "shared_shingles",
            F.round(containment, 6).alias("containment"),
        )
    )


@query(
    "q_dedup_cluster",
    oracle=_CLUSTER_ORACLE,
    doc="Transitive duplicate clusters: exact-hash + ngram-Jaccard pair "
    "edges resolved to connected components (min-id label propagation).",
)
def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step after pair generation that every real dedup pipeline
    needs: A~B and B~C must collapse {A,B,C} even though A~C was never
    emitted. Edges are the union of

    * exact-duplicate STAR edges — each doc linked to the min doc_id of
      its sha256 content-hash group (linear in group size, same
      components as the quadratic all-pairs form), and
    * the n-gram Jaccard ≥ 0.5 pairs (q_dedup_ngram's inverted-index
      generator, unchanged).

    Components come from graph.connected_components — iterative min-label
    propagation, one shuffle join + one min-aggregate per round,
    O(cluster diameter) rounds (shallow for dup clusters). cluster_id is
    the min doc_id of the component — deterministic on both engines; the
    oracle computes the identical fixpoint with a recursive CTE.
    Output: every doc involved in ≥1 duplicate relation, its cluster, and
    the cluster size (survivor selection = keep doc_id == cluster_id)."""
    from ..graph import connected_components

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    hashed = docs.select(
        "doc_id", F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("h")
    )
    grp_min = F.min("doc_id").over(Window.partitionBy("h"))
    exact_edges = (
        hashed.select(grp_min.alias("doc_a"), F.col("doc_id").alias("doc_b"))
        .filter(F.col("doc_a") != F.col("doc_b"))
    )
    # uncapped to match the (uncapped) recursive-CTE oracle at any SF
    ngram_edges = ngram_jaccard_pairs(docs, max_shingle_df=None).select(
        "doc_a", "doc_b"
    )
    comp = connected_components(
        exact_edges.union(ngram_edges), "doc_a", "doc_b"
    )
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
    ).withColumn(
        "cluster_size",
        F.count("*").over(Window.partitionBy("cluster_id")),
    )


@query(
    "q_dedup_near",
    rows_only_reason="MinHashLSH bucket assignment depends on Spark's seeded "
    "hash family — no cross-engine oracle. Unit tests assert its pairs "
    "agree with the exact q_dedup_ngram pairs (same threshold, fixed seed).",
    doc="Near-dup via MinHash LSH (ml.feature), the sub-quadratic scale path.",
)
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle → HashingTF(2^18) → MinHashLSH(8 tables, seed=42) →
    approxSimilarityJoin at Jaccard distance ≤ 0.5. LSH banding bounds the
    candidate join by bucket collisions — the classic trade of recall for
    sub-quadratic cost; recall vs the exact pairs is unit-tested. Round
    6: the engine lives in minhash_near_dup_pairs (shared with the
    parameterized api.dedup(method='minhash') surface); this key is its
    pinned fixture exhibit."""
    t = load_tables(spark, sf_dir)
    return minhash_near_dup_pairs(t["documents"], max_distance=0.5)


def minhash_near_dup_pairs(
    docs: DataFrame,
    max_distance: float = 0.5,
    num_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Parameterized MinHash-LSH near-dup engine over (doc_id, text)
    rows (the q_dedup_near engine): 3-token shingles → HashingTF(2^18)
    sparse sets → MinHashLSH(``num_tables``, ``seed``) →
    approxSimilarityJoin keeping pairs at Jaccard DISTANCE ≤
    ``max_distance``. Candidates are bounded by band-bucket collisions,
    never all-pairs — the sub-quadratic scale twin of
    ngram_jaccard_pairs (whose exact output the fixture recall test
    compares against). Output: (doc_a, doc_b, jaccard_dist)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sh = _shingle_df(docs)
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 18)
    feats = tf.transform(sh).filter(F.size("shingles") > 0)
    lsh = MinHashLSH(
        inputCol="features", outputCol="bands",
        numHashTables=num_tables, seed=seed,
    )
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(
        feats, feats, max_distance, distCol="jaccard_dist"
    )
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
    )


@query(
    "q_dedup_simhash",
    rows_only_reason="SimHash signatures are built from xxhash64 bit "
    "projections — Spark-specific hash, no DuckDB twin. Signature stability "
    "and hamming-neighbor behavior are unit-tested with fixed expectations.",
    doc="SimHash 64-bit signatures per document + banded hamming candidates.",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per token: xxhash64 → ±1 vote per bit position, weighted by term
    frequency; signature bit b = sign of the vote sum. Entirely JVM-side:
    explode → bit-position explode via sequence → two groupBys. The
    16-bit band key is the blocking handle for hamming-distance search at
    scale (join on band, refine with bit_count(xor))."""
    t = load_tables(spark, sf_dir)
    tok = t["documents"].select("doc_id", F.explode(_toks()).alias("term"))
    th = tok.withColumn("h", F.xxhash64("term"))
    bits = th.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("bit"),
        F.col("h"),
    ).withColumn(
        # shiftright/shiftleft builtins take literal bit counts only —
        # the SQL forms accept column expressions.
        "vote",
        F.when(F.expr("shiftright(h, CAST(bit AS INT)) & 1") == 1, 1).otherwise(-1),
    )
    sig_bits = (
        bits.groupBy("doc_id", "bit")
        .agg(F.sum("vote").alias("v"))
        .withColumn("bitval", F.when(F.col("v") > 0, F.lit(1)).otherwise(F.lit(0)))
    )
    sig = sig_bits.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("bitval") == 1,
                   F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))"))
            .otherwise(F.lit(0).cast("bigint"))
        ).alias("simhash")
    )
    return sig.select(
        "doc_id",
        "simhash",
        (F.col("simhash").bitwiseAND(F.lit((1 << 16) - 1))).alias("band16"),
    )


@query(
    "q_dedup_embed",
    oracle="""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_dot_product(a.v, b.v)
                     / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)),
                     6) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v)
              / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) >= 0.4
    """,
    doc="Embedding-cosine near-dup pairs (τ=0.4) via brute-force refine.",
)
def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture-scale exact form (n² cosines) — the ORACLE for the family.
    The 100 TB path is q_dedup_embed_lsh below: random-projection LSH
    bucketing bounds the candidate pairs, then the identical cosine
    threshold refines — recall vs these exact pairs is unit-tested."""
    t = load_tables(spark, sf_dir)
    from .similarity import corpus_view, cosine_pairs_above

    return cosine_pairs_above(
        corpus_view(t["embeddings"], "vec_id", "embedding"), 0.4
    )


def embed_near_dup_lsh(
    docs: DataFrame,
    tau: float = 0.4,
    bucket_length: float = 0.8,
    num_tables: int = 4,
) -> DataFrame:
    """LSH-bucket → exact-cosine-refine near-dup pairs (the scale path).

    Vectors are L2-normalized so euclidean bucketing orders like cosine
    (‖a−b‖² = 2−2cos on the unit sphere); approxSimilarityJoin emits only
    bucket-colliding candidates with their EXACT euclidean distance, so
    cos = 1 − d²/2 is the exact cosine of the normalized pair — the same
    τ threshold as the brute-force key refines candidates, it can only
    MISS pairs (bounded recall, unit-tested), never report a wrong one.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    e = docs.select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("raw"),
    )
    e = Normalizer(inputCol="raw", outputCol="nv", p=2.0).transform(e)
    lsh = BucketedRandomProjectionLSH(
        inputCol="nv", outputCol="buckets",
        bucketLength=bucket_length, numHashTables=num_tables, seed=42,
    )
    model = lsh.fit(e)
    # cosine ≥ τ ⇔ l2 ≤ sqrt(2−2τ) on unit vectors (tiny epsilon for the
    # boundary); the join prunes to bucket collisions BEFORE distances
    dist_max = float((2.0 - 2.0 * tau) ** 0.5) + 1e-9
    pairs = model.approxSimilarityJoin(e, e, dist_max, distCol="l2")
    cos = 1 - F.col("l2") * F.col("l2") / 2
    return (
        pairs.filter(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .filter(cos >= tau)
        .select(
            F.col("datasetA.vec_id").alias("id_a"),
            F.col("datasetB.vec_id").alias("id_b"),
            F.round(cos, 6).alias("cosine"),
        )
    )


@query(
    "q_dedup_embed_lsh",
    rows_only_reason="BucketedRandomProjectionLSH buckets depend on Spark's "
    "seeded random hyperplanes — no cross-engine oracle. Unit tests assert "
    "recall vs the exact q_dedup_embed pairs and that the candidate count "
    "is sub-quadratic on clustered fixtures.",
    doc="Embedding near-dup via LSH buckets + exact cosine refine — the "
    "sub-quadratic scale path behind q_dedup_embed.",
)
def q_dedup_embed_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return embed_near_dup_lsh(t["embeddings"], tau=0.4)


@query(
    "q_dedup_url",
    oracle="""
        WITH raw AS (
            SELECT doc_id,
                   concat(
                     'https://',
                     CASE WHEN doc_id % 2 = 0 THEN upper(source)
                          ELSE source END,
                     '.example.com/page/',
                     CAST(doc_id % 25 AS VARCHAR),
                     CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END,
                     CASE WHEN doc_id % 3 = 0
                          THEN '?utm_source=feed' ELSE '' END,
                     CASE WHEN doc_id % 7 = 0 THEN '#sec2' ELSE '' END
                   ) AS url
            FROM documents
        ), canon AS (
            SELECT doc_id,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(lower(url), '#.*$', ''),
                       '\\?utm_[a-z]+=[^&#]*', ''),
                     '/$', '') AS curl
            FROM raw
        )
        SELECT curl AS canonical_url,
               CAST(count(*) AS BIGINT) AS n_copies,
               min(doc_id) AS keep_id
        FROM canon GROUP BY 1
        HAVING count(*) > 1
    """,
    doc="URL-grain deduplication: canonicalize (lowercase host, strip "
    "fragment / utm tracking params / trailing slash) then group — "
    "the crawl-dedup stage that runs BEFORE any content hashing, on "
    "deterministically synthesized messy URLs.",
)
def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl pipelines dedup by canonical URL first — it needs no
    content fetch and kills the bulk of recrawl duplicates. The
    canonicalization here is the standard minimal set (case-fold the
    authority, drop fragments, drop utm_* tracking params, drop the
    trailing slash); the fixture synthesizes the mess deterministically
    (case via doc_id % 2, tracking via % 3, slash via % 5, fragment
    via % 7, page identity via source × doc_id % 25) so the cluster
    structure is a closed-form function of doc_id.

    Determinism: string ops only, identical regex dialect subset
    (q_fn_regexp's rules).

    Scale shape: pure map-side canonicalization, then the
    q_dedup_exact groupBy — canonical strings cross the shuffle once;
    at 100 TB you'd hash them first (the sha-digest rule), identical
    plan."""
    t = load_tables(spark, sf_dir)
    url = F.concat(
        F.lit("https://"),
        F.when(
            F.col("doc_id") % 2 == 0, F.upper(F.col("source"))
        ).otherwise(F.col("source")),
        F.lit(".example.com/page/"),
        (F.col("doc_id") % 25).cast("string"),
        F.when(F.col("doc_id") % 5 == 0, "/").otherwise(""),
        F.when(F.col("doc_id") % 3 == 0, "?utm_source=feed").otherwise(""),
        F.when(F.col("doc_id") % 7 == 0, "#sec2").otherwise(""),
    )
    curl = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.lower(url), "#.*$", ""),
            r"\?utm_[a-z]+=[^&#]*",
            "",
        ),
        "/$",
        "",
    )
    return (
        t["documents"]
        .select("doc_id", curl.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_copies") > 1)
    )
