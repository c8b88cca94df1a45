"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Design for 10^12 docs:

* exact dedup = one hash-aggregate on md5(text) — map-side partial agg, one
  shuffle on the digest, no text moves after the first projection;
* MinHash+LSH = shingle → 64 permuted mins (map-side agg) → 32 bands × r=2 →
  bucket self-join (the only quadratic step is within-bucket) → exact-Jaccard
  verification of candidates only;
* SimHash = 60-bit md5-derived signature; candidate generation by 4×15-bit
  pigeonhole chunks (hamming ≤ 3 ⟹ ≥1 chunk equal ⟹ 100% recall), verified
  with bit_count(xor);
* everything is built-in columnar expressions — no Python UDFs anywhere.

The 60-bit md5 hash (textops.hash60_col) is reproducible in DuckDB, so the
oracle recomputes identical signatures; the LSH/banding internals need no
oracle because the *verified* output is compared against brute-force SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dhtmlparser3_spark.functions.textops import (
    hash60_col,
    token_list,
    tokens_col,
)

# corpus-construction constants (mirrored in the DuckDB oracle SQL)
NEAR_DUP_MOD = 7
NEAR_DUP_OFFSET = 1_000_000
EXACT_DUP_MOD = 11
EXACT_DUP_OFFSET = 2_000_000
TRUNC_NUM, TRUNC_DEN = 4, 5  # near-dup keeps the first ceil(4/5) of tokens


def dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ deterministic near-dup + exact-dup copies.

    The synthetic corpus has (almost) no natural duplicates, so dedup
    operators would all trivially return empty; these constructed copies
    give the correctness gate real positives.  The same construction is a
    three-branch UNION in the DuckDB oracle.

    The copy ids live at fixed offsets (mirrored by the oracle), so the
    source ids must stay below NEAR_DUP_OFFSET — otherwise a real doc_id
    would collide with a synthesized copy and pair outputs become
    ambiguous.  Asserted here (one scalar) rather than left latent: the
    sandbox tiers hold ≤ 500 docs, and a larger demo corpus must pick
    larger offsets.
    """
    from dhtmlparser3_spark.plans.layout import spread

    docs = spread(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
    )
    max_id = docs.agg(F.max("doc_id")).first()[0]
    if max_id is not None and max_id >= NEAR_DUP_OFFSET:
        raise ValueError(
            f"dedup_corpus: max doc_id {max_id} collides with the copy-id "
            f"offset {NEAR_DUP_OFFSET}; raise NEAR_DUP_OFFSET/"
            f"EXACT_DUP_OFFSET (and their oracle mirrors) for this corpus"
        )
    toks = tokens_col("text")
    keep = F.ceil(F.size(toks) * TRUNC_NUM / TRUNC_DEN).cast("int")
    near = (
        docs.where(F.col("doc_id") % NEAR_DUP_MOD == 0)
        .select(
            (F.col("doc_id") + NEAR_DUP_OFFSET).alias("doc_id"),
            F.array_join(F.slice(toks, 1, keep), " ").alias("text"),
        )
    )
    exact = docs.where(F.col("doc_id") % EXACT_DUP_MOD == 0).select(
        (F.col("doc_id") + EXACT_DUP_OFFSET).alias("doc_id"), "text"
    )
    return docs.unionByName(near).unionByName(exact)


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup → groups with >1 member."""
    return (
        df.groupBy(F.md5(F.col("text")).alias("text_md5"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("min_doc_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def _shingle_list(text, n: int):
    """Python twin of the SQL shingling: textops.token_list is byte-exact
    against both tokens_col (Spark) and the DuckDB oracle's _toks (see the
    tokenization note in textops.py), so shingles agree across all three
    engines including tab/newline/\\x0b-edged texts."""
    toks = token_list(text)
    if len(toks) < n:
        return []
    joined = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    return list(dict.fromkeys(joined))  # == F.array_distinct (first-occurrence)


def shingle_arrays(df: DataFrame, n: int = 3, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, shs: array<string>) — per-doc DISTINCT n-token shingles.

    Built MAP-SIDE: no shuffle, no token-level row explosion.  The two
    pure-JVM alternatives both lose at scale: Catalyst higher-order
    lambdas (transform/sequence over arrays) run interpreted
    (CodegenFallback) at ~20-40µs per shingle, and the codegen-friendly
    posexplode→window(lead) formulation shuffles one row PER TOKEN
    (5x10^14 rows at the design point).  The set-per-row output is the
    scale workhorse: signatures, set sizes, and pairwise intersections
    all derive from it without ever materializing the quadratic
    (doc, shingle) table.

    Crosses the boundary with mapInArrow: the shingle lists are assembled
    as one flat Arrow string array + offsets per batch and the id column
    is re-emitted zero-copy; rows equal :func:`_shingle_list` per text
    (test_shingle_arrays_arrow_parity)."""
    id_t = df.schema[id_col].dataType.simpleString()
    src = df.select(F.col(id_col).alias("doc_id"), "text")

    def run(batches):
        import pyarrow as pa

        from dhtmlparser3_spark.functions.extract import arrow_column

        for rb in batches:
            shs = arrow_column(
                [_shingle_list(t, n) for t in rb.column(1).to_pylist()],
                pa.list_(pa.string()),
            )
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), shs], ["doc_id", "shs"]
            )

    return src.mapInArrow(run, schema=f"doc_id {id_t}, shs array<string>")


def shingle_sets(df: DataFrame, n: int = 3, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, shingle) DISTINCT rows — the exploded form (brute-force
    Jaccard joins on it; everything else uses shingle_arrays).
    explode_outer + post-filter everywhere a UDF feeds explode: a plain
    explode makes Catalyst infer a size() filter BELOW the Generate and
    evaluate the shingle UDF twice (PLANS.md §6b)."""
    return (
        shingle_arrays(df, n, id_col)
        .select("doc_id", F.explode_outer("shs").alias("sh"))
        .where(F.col("sh").isNotNull())
    )


def _pair_jaccard(shingles: DataFrame, confirm_strings: bool = False) -> DataFrame:
    """Jaccard over ALL co-shingled pairs — the brute-force baseline
    (quadratic in co-shingled docs; LSH verification uses
    :func:`_verify_candidates` instead, which never goes quadratic).

    Collision contract: intersections are counted on xxhash64(shingle) —
    8-byte shuffle keys, fixed-width comparisons.  A colliding pair of
    distinct shingles inflates one doc-pair's intersection by 1; the
    expected number of colliding shingle pairs across the whole corpus is
    ~ |distinct shingles|^2 / 2^65 (≈ 2.7e-9 at 10^5 shingles, still only
    ~2.7e-3 at 10^10), and the exact-string DuckDB oracle would flag any
    hit as a red driver row.  Belt-and-braces: ``confirm_strings=True``
    carries the shingle string through the join and adds string equality
    to the condition — exact at any scale, at the cost of string-width
    shuffle keys."""
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    hashed = shingles.select(
        "doc_id", F.xxhash64("sh").alias("sh"), F.col("sh").alias("sh_str")
    ) if confirm_strings else shingles.select(
        "doc_id", F.xxhash64("sh").alias("sh")
    )
    a = hashed.alias("a")
    b = hashed.alias("b")
    cond = (F.col("a.sh") == F.col("b.sh")) & (
        F.col("a.doc_id") < F.col("b.doc_id")
    )
    if confirm_strings:
        cond = cond & (F.col("a.sh_str") == F.col("b.sh_str"))
    inter = (
        a.join(
            b,
            cond,
        )
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n_sh", "na")
    sb = sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n_sh", "nb")
    return (
        inter.join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.floor(
                100.0
                * F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter"))
            )
            .cast("int")
            .alias("jacc_pct"),
        )
    )


def _verify_candidates(
    arrays: DataFrame, candidates: DataFrame, arrays_b: DataFrame = None
) -> DataFrame:
    """Exact Jaccard for candidate pairs only, via native array_intersect on
    the per-doc shingle arrays — O(|candidates| x shingles-per-doc), no
    shingle-level self-join, no extra distinct/groupBy shuffles.  AQE
    broadcasts the candidate side when it is small (the common case: LSH
    candidates ≈ true near-dups).  ``arrays_b`` supplies the b-side from a
    different table (the incremental new-vs-index case)."""
    a = arrays.select(F.col("doc_id").alias("a_id"), F.col("shs").alias("a_shs"))
    b = (arrays_b if arrays_b is not None else arrays).select(
        F.col("doc_id").alias("b_id"), F.col("shs").alias("b_shs")
    )
    j = candidates.join(a, "a_id").join(b, "b_id")
    inter = F.size(F.array_intersect("a_shs", "b_shs"))
    na, nb = F.size("a_shs"), F.size("b_shs")
    return j.select(
        "a_id",
        "b_id",
        F.floor(100.0 * inter / (na + nb - inter)).cast("int").alias("jacc_pct"),
    )


def jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    tau_pct: int = 60,
    id_col: str = "doc_id",
    confirm_strings: bool = False,
    arrays: DataFrame = None,
) -> DataFrame:
    """Brute n-gram-Jaccard near-dup pairs (the small-scale baseline and
    the verifier for LSH); collision contract and the exact
    ``confirm_strings`` variant: see :func:`_pair_jaccard`.

    ``arrays``: an already-persisted (doc_id, shs) shingle table to reuse
    (the driver's jaccard_pairs row runs brute AND LSH over the same
    corpus — sharing the table halves the shingle UDF passes)."""
    # persist: the shingle table is referenced 4x in the self-join plan
    # (sizes, hashed a, hashed b) and Spark re-evaluates an unpersisted
    # subplan per reference — at 10^12 docs the shingle pass is the whole
    # cost, so it is computed ONCE (production: write it to storage)
    if arrays is None:
        sh = shingle_sets(df, n, id_col).persist()
    else:
        sh = arrays.select(
            "doc_id", F.explode_outer("shs").alias("sh")
        ).where(F.col("sh").isNotNull())
    return _pair_jaccard(sh, confirm_strings).where(
        F.col("jacc_pct") >= tau_pct
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: drop every corpus document that shares
    ANY n-token shingle with the benchmark set (the standard eval-leakage
    guard for pretraining corpora).

    Scale shape: benchmark shingles are tiny against the corpus →
    broadcast; the corpus side is shingled MAP-SIDE (shingle_arrays) and
    probed with a broadcast LEFT SEMI join, so no corpus shingle ever
    shuffles; only the small contaminated-id set reaches an exchange
    before the final anti-join.  At 10^12 docs you additionally hash the
    shingles to 8-byte keys (string equality here keeps the DuckDB oracle
    byte-exact).
    """
    bsh = (
        shingle_arrays(benchmark, n, id_col)
        .select(F.explode_outer("shs").alias("sh"))
        .where(F.col("sh").isNotNull())
        .distinct()
    )
    csh = (
        shingle_arrays(corpus, n, id_col)
        .select(F.col("doc_id"), F.explode_outer("shs").alias("sh"))
        .where(F.col("sh").isNotNull())
    )
    contaminated = (
        csh.join(F.broadcast(bsh), "sh", "left_semi").select("doc_id").distinct()
    )
    return corpus.join(
        contaminated.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
    )


# --- MinHash + LSH ------------------------------------------------------------

DEFAULT_BUCKET_CAP = 1024  # members per LSH/pigeonhole bucket (see cap_buckets)


def cap_buckets(
    buckets: DataFrame, ids_col: str, cap: int | None, observation=None
):
    """Bound the within-bucket quadratic pair expansion.

    Bucket-grouped candidate generation collects each bucket's members
    into ONE array row; a degenerate corpus (say 10^6 identical
    boilerplate pages hashing to one bucket) would make a single task
    quadratic in members and OOM it.  The cap keeps the lowest ``cap``
    members (arrays arrive sorted, so the slice is deterministic) and
    bounds task memory at cap^2 pair structs.

    ``cap=None`` DISABLES the bound (full recall; the caller owns the
    degenerate-corpus risk) — with an ``observation`` still attached so
    the would-have-overflowed count is reported either way.

    The cap is ON by default in every caller (OOM-safety beats tail
    recall at 10^12 docs), and overflow is accounted by default: when the
    caller passes no ``observation``, a fresh one is created and attached
    anyway, and exposed as ``_overflow_observation`` on the returned
    DataFrame (the pair-producing callers re-attach it to their final
    result) — after an action on THAT DataFrame, ``overflow_counts(df)``
    returns ``{n_overflow_buckets, n_buckets}`` and warns when truncation
    actually fired.  Contract limits, stated plainly: the attachment is a
    Python attribute on the returned object — a caller-side
    transformation (``.where``, ``.select``, …) returns a NEW DataFrame
    without it (keep a reference to the producer's return value), and
    ``Observation.get`` BLOCKS until the attached plan has executed, so
    call ``overflow_counts`` only after an action.  Semantics of a drop:
    members beyond the cap are near-identical to kept members by
    construction (they share the bucket), and the exact dedup stage
    upstream already collapses the byte-identical mass that creates
    degenerate buckets.
    """
    from pyspark.sql import Observation

    threshold = DEFAULT_BUCKET_CAP if cap is None else cap
    capped = buckets.withColumn(
        "_overflow", (F.size(ids_col) > threshold).cast("int")
    )
    if observation is None:
        observation = Observation()
    capped = capped.observe(
        observation,
        F.sum("_overflow").alias("n_overflow_buckets"),
        F.count(F.lit(1)).alias("n_buckets"),
    )
    if cap is None:
        out = capped.drop("_overflow")
    else:
        out = capped.withColumn(ids_col, F.slice(ids_col, 1, cap)).drop(
            "_overflow"
        )
    out._overflow_observation = observation
    # cap=None measures would-be overflow vs the DEFAULT cap but slices
    # nothing — overflow_counts must not claim truncation there
    out._overflow_truncating = cap is not None
    return out


def overflow_counts(df: DataFrame) -> dict | None:
    """Post-action overflow accounting for the DataFrame RETURNED BY a
    cap_buckets-based producer (the attribute does not survive further
    caller-side transformations — see cap_buckets).  Call AFTER an action
    on that DataFrame — ``Observation.get`` blocks until the attached
    plan has executed.  Returns ``{n_overflow_buckets, n_buckets}``
    (warning via ``warnings`` when truncation actually fired — i.e. a
    bucket exceeded an ACTIVE cap; with ``cap=None`` the counts report
    would-be overflow vs the default cap and no warning is emitted) or
    None when no observation is attached."""
    obs = getattr(df, "_overflow_observation", None)
    if obs is None:
        return None
    got = obs.get
    truncating = getattr(df, "_overflow_truncating", True)
    if truncating and (got.get("n_overflow_buckets") or 0):
        import warnings

        warnings.warn(
            f"cap_buckets truncated {got['n_overflow_buckets']} of "
            f"{got['n_buckets']} candidate buckets — near-dup recall is "
            "cap-conditional on this corpus (raise bucket_cap or pass "
            "cap=None after exact dedup)",
            stacklevel=2,
        )
    return got


_P31 = 2147483647  # 2^31-1, Mersenne prime


def _perm_coeffs(num_perm: int):
    """Deterministic permutation coefficients (seeded LCG, no RNG import)."""
    a, b, out = 1103515245, 12345, []
    x = 42
    for _ in range(num_perm):
        x = (a * x + b) % _P31
        ca = x or 1
        x = (a * x + b) % _P31
        cb = x
        out.append((ca, cb))
    return out


def minhash_signatures(
    shingles: DataFrame, num_perm: int = 64
) -> DataFrame:
    """(doc_id, m0..m{num_perm-1}) — one map-side aggregate; the base hash is
    xxhash64 folded into 31 bits so a_i*x+b_i never overflows int64."""
    base = F.pmod(F.xxhash64("sh"), F.lit(_P31))
    aggs = [
        F.min((F.lit(ca) * base + F.lit(cb)) % F.lit(_P31)).alias(f"m{i}")
        for i, (ca, cb) in enumerate(_perm_coeffs(num_perm))
    ]
    return shingles.groupBy("doc_id").agg(*aggs)


def _bands_from_sig(
    sig: DataFrame, num_perm: int, rows_per_band: int
) -> DataFrame:
    """(doc_id, band, sig): each signature folded into b = num_perm/r
    band hashes — the LSH bucket keys.  Shared by the batch pair finder
    and the incremental index so banding can never diverge between them
    (divergent banding would silently zero incremental recall)."""
    n_bands = num_perm // rows_per_band
    band_rows = []
    for band in range(n_bands):
        cols = [f"m{band * rows_per_band + r}" for r in range(rows_per_band)]
        band_rows.append(
            F.struct(
                F.lit(band).alias("band"),
                F.xxhash64(*[F.col(c) for c in cols]).alias("sig"),
            )
        )
    return sig.select(
        "doc_id", F.explode(F.array(*band_rows)).alias("bs")
    ).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    n: int = 3,
    tau_pct: int = 60,
    num_perm: int = 64,
    rows_per_band: int = 2,
    id_col: str = "doc_id",
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
    observation=None,
    arrays: DataFrame = None,
) -> DataFrame:
    """LSH candidates (32 bands × r=2 at defaults) verified by exact Jaccard.

    With r=2/b=32, a pair at Jaccard 0.6 is missed with prob (1-0.36)^32 ≈
    6e-7 — the verified output equals brute force in expectation, which is
    what the DuckDB oracle asserts.  A bucket beyond ``bucket_cap`` members
    is additionally truncated (OOM safety; ``bucket_cap=None`` disables,
    ``observation`` reports overflow) — see :func:`cap_buckets`.
    """
    # persist: the per-doc shingle arrays feed the signature pipeline AND
    # both sides of the verification join — unpersisted, Spark re-runs the
    # shingle UDF once per plan reference (measured 9 ArrowEvalPython nodes
    # in the unpersisted plan vs 1 evaluation persisted).  A caller-shared
    # ``arrays`` table must already be persisted.
    if arrays is None:
        arrays = shingle_arrays(df, n, id_col).persist()
    sh = arrays.select(
        "doc_id", F.explode_outer("shs").alias("sh")
    ).where(F.col("sh").isNotNull())
    banded = _bands_from_sig(
        minhash_signatures(sh, num_perm), num_perm, rows_per_band
    )
    # bucket-group candidate generation: ONE pass over the signatures (a
    # self-join would evaluate the whole signature pipeline twice unless the
    # exchange is reused), quadratic only WITHIN a bucket — bucket size is
    # bounded by band width, so the blowup knob is explicit
    buckets = cap_buckets(
        banded.groupBy("band", "sig")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .where(F.size("ids") > 1),
        "ids", bucket_cap, observation,
    )
    pairs = F.flatten(
        F.transform(
            "ids",
            lambda a, i: F.transform(
                F.slice("ids", i + 2, F.size("ids")),
                lambda b: F.struct(a.alias("a_id"), b.alias("b_id")),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.a_id").alias("a_id"), F.col("p.b_id").alias("b_id"))
        .distinct()
    )
    out = _verify_candidates(arrays, cand).where(F.col("jacc_pct") >= tau_pct)
    out._overflow_observation = buckets._overflow_observation
    out._overflow_truncating = buckets._overflow_truncating
    return out


# --- SimHash -------------------------------------------------------------------

SIMHASH_BITS = 60  # md5-derived portable hash width (textops.hash60_col)
SIMHASH_CHUNKS = 4  # pigeonhole bands of 15 bits → exact recall for ham ≤ 3


def simhash_signatures(shingles: DataFrame) -> DataFrame:
    """(doc_id, simhash) — bit j set iff sum over shingles of ±1 > 0."""
    h = hash60_col(F.col("sh"))
    sums = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    per_bit = shingles.groupBy("doc_id").agg(*sums)
    sim = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return per_bit.select("doc_id", sim.cast("long").alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    n: int = 3,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
    observation=None,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ k via pigeonhole chunk join
    (k < SIMHASH_CHUNKS required).  Recall is exact UP TO the bucket cap:
    the pigeonhole decomposition itself misses nothing, but a bucket with
    more than ``bucket_cap`` members is truncated (OOM safety on
    degenerate corpora) — pass ``bucket_cap=None`` for uncapped exactness
    or an ``observation`` for overflow accounting; see
    :func:`cap_buckets`."""
    assert max_hamming < SIMHASH_CHUNKS
    sh = shingle_sets(df, n, id_col)
    sig = simhash_signatures(sh)
    width = SIMHASH_BITS // SIMHASH_CHUNKS
    mask = (1 << width) - 1
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("c"),
                F.shiftright(F.col("simhash"), c * width)
                .bitwiseAND(F.lit(mask))
                .alias("v"),
            )
            for c in range(SIMHASH_CHUNKS)
        ]
    )
    banded = sig.select(
        "doc_id", "simhash", F.explode(chunks).alias("ch")
    ).select(
        "doc_id", "simhash", F.col("ch.c").alias("c"), F.col("ch.v").alias("v")
    )
    # bucket-group instead of self-join: one evaluation of the signature
    # pipeline, quadratic only within a (chunk, value) bucket
    buckets = cap_buckets(
        banded.groupBy("c", "v")
        .agg(
            F.array_sort(
                F.collect_set(F.struct("doc_id", "simhash"))
            ).alias("members")
        )
        .where(F.size("members") > 1),
        "members", bucket_cap, observation,
    )
    pairs = F.flatten(
        F.transform(
            "members",
            lambda a, i: F.transform(
                F.slice("members", i + 2, F.size("members")),
                lambda b: F.struct(
                    a["doc_id"].alias("a_id"),
                    b["doc_id"].alias("b_id"),
                    F.bit_count(
                        a["simhash"].bitwiseXOR(b["simhash"])
                    ).alias("hamming"),
                ),
            ),
        )
    )
    # filter BEFORE the distinct exchange: a pair surfaces once per shared
    # chunk-bucket (up to SIMHASH_CHUNKS times) and hamming is already
    # computed per surfaced copy, so dropping far pairs first shrinks the
    # distinct's shuffle by the (dominant) far-pair mass — same result,
    # strictly less data moved
    out = (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.a_id", "p.b_id", "p.hamming")
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    out._overflow_observation = buckets._overflow_observation
    out._overflow_truncating = buckets._overflow_truncating
    return out


# ---------------------------------------------------------------------------
# Cross-document line dedup (boilerplate-line removal)
#
# The line-level twin of exact_dup_groups: web corpora carry navigation /
# footer / cookie-notice lines repeated across millions of pages, and the
# standard curation move (CCNet, Wenzek et al. 2019, §4.1 "paragraph-level
# dedup"; RefinedWeb, Penedo et al. 2023, §3.2 line-wise filtering) is to
# drop every occurrence of any line that appears in >= min_docs distinct
# documents.  Not a reference operator — reference scope is the parse that
# PRODUCES the text (content_str, src/dhtmlparser3/__init__.py:24-26); this
# is the curation stage immediately downstream.
#
# Key width (here and in dup_spans below): line/k-gram identities travel
# as md5 (128-bit).  xxhash64 would halve the shuffle bytes, but 64-bit
# keys birthday-collide at 10^12-position scale (~3% chance of one false
# merge corpus-wide); 128-bit makes that ~1e-14 — correctness first, and
# the 16-byte binary keys (unhex(md5)) are still ~4x narrower than
# typical line text and half the width of md5's hex form.
#
# Design for 10^12 docs: the full text crosses the wire exactly ONCE (the
# final doc_id join).  Everything before that moves 16-byte md5 keys only:
# posexplode projects (id, line_no, key) and drops the line text in the same
# map stage; duplicate keys come from a distinct + count on (key, doc_id);
# the drop-list join carries (id, line_no) pairs for duplicated lines only.
# Reassembly re-splits the ORIGINAL text map-side and filters by position —
# no line text is ever shuffled, so a 100 TB corpus shuffles ~100 TB once
# instead of three times.  Pure codegen end to end (no Python UDFs).
# ---------------------------------------------------------------------------

# lined_corpus constants (mirrored in the DuckDB oracle SQL)
LINE_TOKENS = 6
HEADER_MOD, FOOTER_MOD, PROMO_MOD = 4, 3, 5
HEADER_LINE = "cookie notice click to accept"
FOOTER_LINE = "all rights reserved contact us"
PROMO_LINE = "subscribe to our newsletter today"


def lined_corpus(
    spark: SparkSession, sf_dir: str, tokens_per_line: int = LINE_TOKENS
) -> DataFrame:
    """documents reshaped into multi-line texts + injected boilerplate.

    The synthetic corpus is single-line, so line dedup would degenerate to
    whole-document dedup; this reshapes each text into lines of
    ``tokens_per_line`` whitespace tokens and injects deterministic
    boilerplate (header on doc_id%4==0, footer on %3==0, promo on %5==0 —
    prepend/append in that order), giving the correctness gate real
    cross-document duplicate lines.  Closed-form, mirrored by the oracle.
    """
    from dhtmlparser3_spark.plans.layout import spread

    docs = spread(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
    )
    toks = tokens_col("text")
    n_chunks = F.ceil(F.size(toks) / F.lit(tokens_per_line)).cast("int")
    body = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(
                F.slice(toks, i * tokens_per_line + 1, tokens_per_line), " "
            ),
        ),
        "\n",
    )
    # guard the empty-text edge (sequence(0,-1) would count DOWN)
    body = F.when(F.size(toks) == 0, F.lit("")).otherwise(body)
    did = F.col("doc_id")
    text = F.when(
        did % HEADER_MOD == 0, F.concat(F.lit(HEADER_LINE + "\n"), body)
    ).otherwise(body)
    text = F.when(
        did % FOOTER_MOD == 0, F.concat(text, F.lit("\n" + FOOTER_LINE))
    ).otherwise(text)
    text = F.when(
        did % PROMO_MOD == 0, F.concat(text, F.lit("\n" + PROMO_LINE))
    ).otherwise(text)
    return docs.select("doc_id", text.alias("text"))


def _line_keys(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, line_no, line_key) for every NON-BLANK line — text dropped in
    the same map stage, so only 16-byte keys reach any exchange.  The key
    is md5 of the whitespace-trimmed, case-folded line (CCNet-style
    normalization: 'Contact Us' and 'contact us ' are the same boilerplate);
    blank-after-trim lines are structure, not boilerplate, and never count."""
    norm = F.lower(F.trim("line"))
    return (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), "\n", -1)).alias(
                "line_no", "line"
            ),
        )
        .where(F.trim("line") != "")
        .select(id_col, "line_no", F.unhex(F.md5(norm)).alias("line_key"))
    )


def line_dedup(
    df: DataFrame,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_dups: bool = False,
) -> DataFrame:
    """Remove every occurrence of any line appearing in >= min_docs docs.

    Returns one row per input doc: (id, clean_text, n_lines, n_removed).
    Docs whose every line is boilerplate come back with clean_text = ''
    (the quality floor downstream drops them); blank lines are always kept.

    ``broadcast_dups=True`` broadcasts the duplicated-key table into the
    drop-list join — right when the threshold is high enough that the dup
    set is small (a few million boilerplate lines); the default shuffle
    join is the safe choice when min_docs is low and the dup set can be a
    meaningful fraction of all distinct lines.

    Skew: the dup keys ARE the skewed keys (a footer line in 10^9 docs
    sends its (doc, line_no) rows to one reducer in the drop-list join).
    The counting side is immune — two-phase partial aggregation bounds
    any key to one partial row per partition — and the join is covered by
    AQE's skew-join split on this repo's session config; broadcast mode
    removes the join shuffle entirely.
    """
    keyed = _line_keys(df, id_col, text_col)
    dup_keys = (
        keyed.select("line_key", id_col)
        .distinct()
        .groupBy("line_key")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("line_key")
    )
    if broadcast_dups:
        dup_keys = F.broadcast(dup_keys)
    drops = (
        keyed.join(dup_keys, "line_key")
        .groupBy(id_col)
        .agg(F.collect_set("line_no").alias("drop_lines"))
    )
    lines = F.split(F.col(text_col), "\n", -1)
    clean = F.when(F.col("drop_lines").isNull(), F.col(text_col)).otherwise(
        F.array_join(
            F.filter(
                lines,
                lambda x, i: ~F.array_contains(F.col("drop_lines"), i),
            ),
            "\n",
        )
    )
    return df.join(drops, id_col, "left").select(
        F.col(id_col),
        clean.alias("clean_text"),
        F.size(lines).alias("n_lines"),
        F.coalesce(F.size("drop_lines"), F.lit(0)).alias("n_removed"),
    )


def line_dup_stats(
    df: DataFrame,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The monitoring view: which lines ARE the corpus boilerplate.

    One row per duplicated normalized line: (line_key, n_docs,
    n_occurrences, sample_line).  Exact counts via a two-level aggregation
    (per (key, doc) partials first — no expand, no giant collect_set), and
    the line text rides the agg as a min() exemplar so the report is
    readable without a second corpus pass."""
    norm = F.lower(F.trim("line"))
    keyed = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.col(text_col), "\n", -1)).alias("line"),
        )
        .where(F.trim("line") != "")
        .select("doc_id", F.md5(norm).alias("line_key"), "line")
    )
    per_doc = keyed.groupBy("line_key", "doc_id").agg(
        F.count("*").alias("n_occ"), F.min("line").alias("line")
    )
    return (
        per_doc.groupBy("line_key")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_occ").alias("n_occurrences"),
            F.min("line").alias("sample_line"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


# ---------------------------------------------------------------------------
# Duplicate-span removal (exact-substring dedup, token granularity)
#
# Lee et al. 2021, "Deduplicating Training Data Makes Language Models
# Better": any >= k-token sequence that occurs more than once in the
# corpus is duplicated text (memorization fuel) and is cut from the
# documents.  The paper builds a corpus-level suffix array offline; the
# Spark-native equivalent hashes the k-gram AT EVERY TOKEN POSITION —
# O(tokens) rows of (doc, pos, 16-byte hash), which is exactly the kind
# of mass a shuffle handles, while the text itself never moves until the
# single final doc_id join (same discipline as line_dedup above).
#
# Removal rule: every position whose k-gram hash is duplicated is marked,
# and every token covered by a marked window [p, p+k) is dropped — i.e.
# ALL occurrences are removed (the paper keeps one occurrence of each
# duplicated substring; removing all is the strictly-deterministic
# variant — no tie-break on which copy survives — and is what makes the
# operator reproducible across engines and cluster sizes).
#
# The operator is TOKEN-level: output text is the space-join of surviving
# tokens (original inter-token whitespace is not preserved — the paper's
# setting is tokenized corpora; run it after extract/normalization).
# ---------------------------------------------------------------------------


def dup_spans(
    df: DataFrame,
    k: int = 8,
    min_occ: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_dups: bool = False,
) -> DataFrame:
    """Cut every duplicated >=k-token span: (id, clean_text, n_tokens,
    n_removed).

    A k-gram counts as duplicated when it occurs >= ``min_occ`` times
    corpus-wide (occurrences, not documents — a sequence repeated inside
    ONE doc is duplicated text too, per the paper).  Docs shorter than k
    tokens are untouched; a doc that is entirely duplicated text comes
    back with clean_text = ''.

    Skew: the dup keys ARE the skewed keys — a k-gram occurring 10^9
    times sends all its (doc, pos) rows to one reducer in the marking
    join.  The counting aggregate is immune (two-phase partial counts,
    bounded per partition), and the join is covered by AQE's skew-join
    split on this repo's session config; ``broadcast_dups=True`` removes
    the join shuffle entirely when the duplicated-key set fits a
    broadcast (high min_occ / bounded boilerplate), same contract as
    line_dedup's flag.
    """
    toks = tokens_col(text_col)
    n = F.size(toks)
    pos_structs = F.when(
        n < k, F.array().cast("array<struct<pos:int,h:binary>>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda p: F.struct(
                p.cast("int").alias("pos"),
                F.unhex(
                    F.md5(F.array_join(F.slice(toks, p + 1, k), " "))
                ).alias("h"),
            ),
        )
    )
    pos = df.select(F.col(id_col), F.explode(pos_structs).alias("s")).select(
        id_col, F.col("s.pos").alias("pos"), F.col("s.h").alias("h")
    )
    dup = (
        pos.groupBy("h")
        .agg(F.count("*").alias("n_occ"))
        .where(F.col("n_occ") >= min_occ)
        .select("h")
    )
    if broadcast_dups:
        dup = F.broadcast(dup)
    marked = (
        pos.join(dup, "h")
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("dup_pos"))
    )
    kept = F.filter(
        toks,
        lambda x, i: ~F.exists(
            F.col("dup_pos"), lambda p: (p <= i) & (i < p + F.lit(k))
        ),
    )
    clean = F.when(
        F.col("dup_pos").isNull(), F.array_join(toks, " ")
    ).otherwise(F.array_join(kept, " "))
    n_kept = F.when(F.col("dup_pos").isNull(), n).otherwise(F.size(kept))
    return df.join(marked, id_col, "left").select(
        F.col(id_col),
        clean.alias("clean_text"),
        n.cast("int").alias("n_tokens"),
        (n - n_kept).cast("int").alias("n_removed"),
    )


# ---------------------------------------------------------------------------
# Incremental near-dup detection against a stored corpus index
#
# At 10^12 docs the all-pairs run is rare; the production-common operation
# is "a new crawl increment arrives — which of its docs near-duplicate
# something we ALREADY HOLD?"  Re-running minhash_lsh_pairs over
# (corpus ∪ increment) re-shingles and re-buckets the full corpus for
# every increment.  Instead: publish the corpus's LSH index ONCE
# (lsh_index — the (doc_id, band, sig) bucket keys plus the per-doc
# shingle arrays for exact verification; both are ordinary tables a job
# writes to parquet/Iceberg partitioned by band), then each increment
# runs incremental_lsh_pairs: band the NEW docs only and equi-join
# against the stored keys.  Cost scales with the increment, not the
# corpus — the corpus side moves nothing but its matching index rows.
#
# Correctness identity (pinned in test_incremental_dedup.py): banding is
# deterministic per doc, so with caps disabled
#
#   pairs(old ∪ new) == pairs(old) ∪ pairs(new)
#                     ∪ incremental(new, index(old))
#
# i.e. the incremental path finds exactly the cross pairs the batch run
# would have found.
# ---------------------------------------------------------------------------


def lsh_index(
    df: DataFrame,
    n: int = 3,
    num_perm: int = 64,
    rows_per_band: int = 2,
    id_col: str = "doc_id",
    arrays: DataFrame = None,
):
    """(bands, arrays): the publishable LSH index of a corpus.

    ``bands`` = (doc_id, band, sig) bucket keys; ``arrays`` = (doc_id,
    shs) distinct-shingle sets for exact verification.  Persist or write
    both; at scale partition ``bands`` by band so an increment's probe
    join co-locates per band."""
    if arrays is None:
        arrays = shingle_arrays(df, n, id_col)
    sh = arrays.select(
        "doc_id", F.explode_outer("shs").alias("sh")
    ).where(F.col("sh").isNotNull())
    bands = _bands_from_sig(
        minhash_signatures(sh, num_perm), num_perm, rows_per_band
    )
    return bands, arrays


def incremental_lsh_pairs(
    new_df: DataFrame,
    index_bands: DataFrame,
    index_arrays: DataFrame,
    n: int = 3,
    tau_pct: int = 60,
    num_perm: int = 64,
    rows_per_band: int = 2,
    id_col: str = "doc_id",
    new_arrays: DataFrame = None,
) -> DataFrame:
    """(a_id=new doc, b_id=indexed doc, jacc_pct) for cross near-dups.

    The increment is banded with the SAME _bands_from_sig the index was
    built with and probes the stored keys with one (band, sig) equi-join
    — no self-join, no corpus re-shingling.  Ids must be disjoint
    between increment and index (fresh doc_ids per crawl — the a!=b
    guard only protects against re-submitting an indexed doc).  Exact
    Jaccard verification reads the increment's arrays for the a-side
    and the STORED arrays for the b-side."""
    if new_arrays is None:
        new_arrays = shingle_arrays(new_df, n, id_col).persist()
    new_bands, _ = lsh_index(
        new_df, n, num_perm, rows_per_band, id_col, arrays=new_arrays
    )
    cand = (
        new_bands.select(
            F.col("doc_id").alias("a_id"), "band", "sig"
        )
        .join(
            index_bands.select(
                F.col("doc_id").alias("b_id"), "band", "sig"
            ),
            ["band", "sig"],
        )
        .where(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    return _verify_candidates(new_arrays, cand, arrays_b=index_arrays).where(
        F.col("jacc_pct") >= tau_pct
    )
