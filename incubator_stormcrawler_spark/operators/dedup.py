"""Deduplication operators for large-scale training-data pipelines.

Four families, each scale-designed:

* **Exact** — fingerprint (md5 of normalized text) + hash groupBy. One
  partial-aggregable shuffle; at 100 TB this is the cheapest pass and runs
  first to shrink the corpus for the fuzzier passes.
* **N-gram Jaccard** — word-shingle explode + self-join on shingle. Exact
  pairwise similarity, quadratic in the worst case — correct baseline and
  verification stage, not the scale path.
* **MinHash + LSH** — minhash signatures (min over md5-salted shingle
  hashes) banded into buckets; only pairs sharing a band bucket are
  compared. Linear-ish in corpus size: the classic 100 TB near-dup design
  (shingle→minhash→band→bucket-join).
* **SimHash** — 64-bit parity-of-hex-digit signature; hamming-close pairs
  via 16-bit banding. Complements MinHash for token-multiset similarity.

The crawl-side analog is the reference's MD5 page signature
(core/.../parse/filter/MD5SignatureParseFilter.java:48,52-92) used for
change detection; here signatures become corpus-dedup keys.

Everything below is pure DataFrame/SQL ops — md5/substr/ascii arithmetic —
no UDFs, so whole-stage codegen applies and the DuckDB oracle can run the
identical computation.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import warn_if_plan_time_broadcast

TOKEN_SPLIT = " "


def fingerprint_expr(text: F.Column) -> F.Column:
    """Normalized-text fingerprint: lowercase, collapse whitespace, md5."""
    return F.md5(F.lower(F.regexp_replace(text, r"\s+", " ")))


def with_shingles(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    distinct: bool = True,
    id_expr: str = "doc_id",
    id_alias: str = "doc_id",
) -> DataFrame:
    """(doc_id, shingle) — word n-grams per document, distinct by default.

    Built codegen-style: explode an index ``sequence`` over the token
    array, then ``concat_ws`` the n adjacent tokens. The obvious
    alternative — build the gram array with the ``transform`` higher-order
    function and explode it — runs ~6× slower end-to-end: HOF lambdas are
    evaluated interpreted (outside whole-stage codegen), costing ~1 ms per
    document, while the index-explode form stays fully codegen'd.

    ``distinct=True`` adds one (doc_id, shingle) shuffle for set
    semantics (what Jaccard needs). Duplicate-insensitive consumers
    (minhash's min-aggregates) pass ``distinct=False`` and skip it —
    their own partial-aggregable groupBy absorbs duplicates map-side.

    ``id_expr``/``id_alias`` carry an arbitrary key expression instead of
    the document id (e.g. a shard expression) — the one shingling
    implementation serves both the per-doc and per-shard sketches.
    """
    toks = F.split(F.col(text_col), TOKEN_SPLIT)
    grams = (
        docs.select(F.expr(id_expr).alias(id_alias), toks.alias("toks"))
        # guard BEFORE the sequence: stop < start would generate a
        # descending index range, not an empty one
        .where(F.size("toks") >= n)
        .select(
            id_alias,
            F.explode(
                F.sequence(F.lit(1), F.size("toks") - (n - 1))
            ).alias("i"),
            "toks",
        )
        .select(
            id_alias,
            F.concat_ws(
                " ",
                *[
                    F.element_at(F.col("toks"), F.col("i") + j)
                    for j in range(n)
                ],
            ).alias("shingle"),
        )
    )
    return grams.dropDuplicates([id_alias, "shingle"]) if distinct else grams


def _minhash_probe_aggs(num_hashes: int, hash_fn: str) -> list:
    """The shared salted min-probe block for every MinHash variant:
    num_hashes parallel min aggregates over md5 (oracle-replayable) or
    xxhash64 (codegen production) of "h|shingle"."""
    if hash_fn == "md5":
        def probe(h):
            return F.md5(F.concat(F.lit(f"{h}|"), F.col("shingle")))
    elif hash_fn == "xxhash64":
        def probe(h):
            return F.xxhash64(F.concat(F.lit(f"{h}|"), F.col("shingle")))
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")
    return [F.min(probe(h)).alias(f"v{h}") for h in range(num_hashes)]


def _stack_signature(wide: DataFrame, key: str, num_hashes: int) -> DataFrame:
    """Unpivot a (key, v0..v{n-1}) wide signature to (key, h, v) rows —
    stack is a projection, no extra shuffle."""
    stack_expr = "stack({n}, {args}) as (h, v)".format(
        n=num_hashes,
        args=", ".join(f"{h}, v{h}" for h in range(num_hashes)),
    )
    return wide.select(key, F.expr(stack_expr))


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup groups: fingerprint → (fingerprint, keeper, n_docs>1).

    Keeper = min(doc_id), the canonical survivor; map-side combine makes the
    shuffle O(distinct fingerprints)."""
    return (
        docs.select(
            fingerprint_expr(F.col(text_col)).alias("fingerprint"), "doc_id"
        )
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keeper"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .where(F.col("n_docs") > 1)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard near-dup pairs over word n-gram shingle sets.

    shingle self-join → common counts → |A∪B| = |A|+|B|−|A∩B|. The
    self-join key is the shingle, so hot shingles fan out quadratically —
    at scale either run AFTER LSH candidate generation (the verify-stage
    role) or set ``max_shingle_df``: shingles occurring in more than that
    many documents ("stop shingles" — boilerplate, headers) are dropped
    from BOTH the join and the set sizes before the self-join, capping any
    shingle's fan-out at max_shingle_df² rows. Dropping them from the
    sizes too keeps the Jaccard exact over the REMAINING shingle sets (the
    standard stop-shingle construction); tests pin that planted near-dups
    survive the cap.
    """
    # Materialize the exploded shingle relation ONCE: the self-join's two
    # branches are identical subtrees, but AQE's broadcast conversion makes
    # them non-canonical so ReuseExchange never fires — without this, every
    # branch re-scans and re-explodes the corpus (measured 1.5-2× slower).
    # Same lineage-truncation pattern as link_rank's iterations.
    sh = with_shingles(docs, n).localCheckpoint(eager=False)
    if max_shingle_df is not None:
        # count-over-window instead of aggregate+semi-join: the shingle
        # explode runs ONCE, and the window's hash-partitioning on shingle
        # is exactly what the downstream self-join needs, so the exchange
        # is reused rather than repeated
        from pyspark.sql import Window

        w = Window.partitionBy("shingle")
        sh = (
            sh.withColumn("df", F.count(F.lit(1)).over(w))
            .where(F.col("df") <= max_shingle_df)
            .drop("df")
        )
    # Set sizes count SURVIVING shingles (post-cap), so the Jaccard stays
    # exact over the remaining sets. r13: the self-join shuffles BARE
    # (doc_id, shingle) rows and the sizes attach AFTER the pair
    # aggregation — n_sh is functionally dependent on doc_id, so the
    # (doc1, doc2) groups are identical, the by-shingle exchange carries
    # narrower rows, and the size joins touch pair-cardinality rows
    # instead of every shingle row (guide §2.3; measured on the
    # containment twin: exec 1.86 → 1.37 s at sf0.1, hash-identical).
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    jac = F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common"))
    return (
        a.join(b, "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
        .join(
            sizes.select(
                F.col("doc_id").alias("doc1"), F.col("n_sh").alias("n1")
            ),
            "doc1",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("doc2"), F.col("n_sh").alias("n2")
            ),
            "doc2",
        )
        .withColumn("jaccard", F.round(jac, 4))
        .where(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", "jaccard")
    )


def jaccard_prefix_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: str = "0.6",
    text_col: str = "text",
) -> DataFrame:
    """Prefix-filtered exact Jaccard pairs (AllPairs/PPJoin — Bayardo et
    al. WWW'07, Xiao et al. WWW'08): byte-identical output to
    ``ngram_jaccard_pairs`` from a plan whose self-join touches only each
    document's PREFIX instead of its whole shingle set.

    Order all shingles by global rarity (df asc, then shingle). A doc of
    set size s indexes only its first ``s - ceil(t·s) + 1`` shingles: if
    J(A,B) ≥ t then |A∩B| ≥ t·max(|A|,|B|), and the globally-smallest
    common shingle sits within both prefixes (its position in A is at
    most |A| − (|A∩B| − 1)), so every qualifying pair collides on ≥ 1
    prefix shingle — candidates are COMPLETE, then an exact verify join
    computes the true Jaccard. This is the third point on the exactness/
    cost curve: full self-join (exact, quadratic on hot shingles) →
    stop-shingle cap (exact over remaining sets) → prefix filter (exact,
    rare-token join only). Boilerplate shingles land deep in every doc's
    suffix and never join — the skew the full self-join suffers from is
    structurally excluded.

    ``threshold`` is a DECIMAL STRING (e.g. "0.55"): prefix lengths use
    exact integer ceil via the fraction num/den — float ceil(0.6·5) =
    ceil(3.0000000000000004) = 4 would silently SHORTEN prefixes and drop
    true pairs. Candidate generation runs at t − 1/5000 so pairs whose
    rounded-to-4 Jaccard ties the threshold (kept by the final rounded
    filter, same as ngram_jaccard_pairs) are still complete.

    Scale shape: one shingle-keyed window (df), one doc-keyed window
    (positions + sizes, same exchange), the prefix self-join (rare keys
    by construction), and a candidate-bounded verify join — no stage
    touches the full shingle×shingle fan-out.
    """
    from fractions import Fraction

    t = Fraction(str(threshold))
    tc = t - Fraction(1, 5000)
    num, den = tc.numerator, tc.denominator
    # NOTE (r13): a "one by-shingle exchange for dedup + df window"
    # restructure (repartition("shingle") → dropDuplicates) was tried
    # and REVERTED: hashing the raw stream by shingle alone concentrates
    # every occurrence of a hot boilerplate shingle into one partition
    # (AQE splits skewed JOINS, not aggregates) and forfeits
    # dropDuplicates' map-side partial dedup — 1.5× slower at the
    # 400k-doc boilerplate curve despite winning at sf0.1. The
    # (doc_id, shingle)-keyed dedup exchange spreads hot shingles by
    # construction.
    warn_if_plan_time_broadcast(docs.sparkSession)
    sh = with_shingles(docs, n, text_col).localCheckpoint(eager=False)
    w_df = Window.partitionBy("shingle")
    w_doc = Window.partitionBy("doc_id")
    w_pos = w_doc.orderBy("df", "shingle")
    ranked = (
        sh.withColumn("df", F.count(F.lit(1)).over(w_df))
        .withColumn("n_sh", F.count(F.lit(1)).over(w_doc))
        .withColumn("pos", F.row_number().over(w_pos))
    )
    # ceil(tc·s) = floor((num·s + den − 1) / den) — exact in int space
    ceil_ts = F.floor(
        (F.lit(num) * F.col("n_sh") + F.lit(den - 1)) / F.lit(den)
    )
    prefix = ranked.where(
        F.col("pos") <= F.col("n_sh") - ceil_ts + 1
    ).select("doc_id", "shingle", "n_sh")
    # Join strategies are deliberately UNHINTED: the session-level
    # broadcast policy (session.py) turns plan-time auto-broadcast off,
    # so Catalyst can never broadcast a corpus-sized side off the
    # garbage post-window/checkpoint estimates (the r9 scale-curve
    # driver-OOM this family used to carry hint("merge") against), and
    # AQE picks broadcast/shuffled-hash per join from MEASURED shuffle
    # sizes — the candidate side broadcasts when it is actually small,
    # corpus-sized sides stay linear shuffle joins.
    a = prefix.alias("a")
    b = prefix.alias("b")
    cand = (
        a.join(b, "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        # length filter: J ≥ t ⟹ min/max ≥ t (integer cross-multiply)
        .where(
            F.least(F.col("a.n_sh"), F.col("b.n_sh")) * den
            >= F.greatest(F.col("a.n_sh"), F.col("b.n_sh")) * num
        )
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
            F.col("a.n_sh").alias("n1"),
            F.col("b.n_sh").alias("n2"),
        )
        .distinct()
    )
    common = (
        cand.join(sh.withColumnRenamed("doc_id", "doc1"), "doc1")
        .join(
            sh.select(F.col("doc_id").alias("doc2"), "shingle"),
            ["doc2", "shingle"],
        )
        .groupBy("doc1", "doc2", "n1", "n2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common"))
    return (
        common.withColumn("jaccard", F.round(jac, 4))
        .where(F.col("jaccard") >= float(t))
        .select("doc1", "doc2", "jaccard")
    )


def containment_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: str = "0.7",
    max_shingle_df: int | None = None,
    text_col: str = "text",
) -> DataFrame:
    """ASYMMETRIC near-dup: pairs where containment C(A→B) =
    |A∩B| / |A| ≥ t — "A is mostly inside B" (Broder 1997's second
    resemblance measure). Jaccard misses these: a paragraph quoted
    inside a 100× larger page has J ≈ |A|/|B| ≈ 0.01 but C ≈ 1.0. The
    LLM-corpus use is quote/subset detection — drop the contained COPY,
    keep the superset document.

    Directional by construction: emitted rows are (contained, container)
    with doc ids in either order, plus both sizes so the consumer can
    pick a keep policy. The threshold is exact-rational (decimal string
    → num/den integer cross-multiply), so no float-ceil edge can drop a
    boundary pair; the reported ``containment`` is rounded to 4 and
    filtered on the ROUNDED value like the Jaccard family.

    Scale shape: same bounded self-join as ``ngram_jaccard_pairs`` —
    the shingle join fans out quadratically on hot shingles, so at
    corpus scale set ``max_shingle_df`` (stop-shingle cap; containment
    stays exact over the REMAINING sets — same construction as the
    capped Jaccard) or run it as the verify stage behind LSH/bloom
    candidates. Unlike Jaccard, prefix filtering does NOT apply (the
    contained side's rare shingles need not be rare in the container),
    which is why the cap is the honest scale knob here.
    """
    from fractions import Fraction

    t = Fraction(str(threshold))
    num, den = t.numerator, t.denominator
    sh = with_shingles(docs, n, text_col).localCheckpoint(eager=False)
    if max_shingle_df is not None:
        w = Window.partitionBy("shingle")
        sh = (
            sh.withColumn("df", F.count(F.lit(1)).over(w))
            .where(F.col("df") <= max_shingle_df)
            .drop("df")
        )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # r13: the self-join shuffles BARE (doc_id, shingle) rows and the
    # sizes attach AFTER the pair aggregation — n_sh is functionally
    # dependent on doc_id, so grouping by the ids alone yields identical
    # groups, and the post-agg joins touch pair-cardinality rows instead
    # of widening every shingle row through the by-shingle exchange
    # (guide §2.3: shuffle keys and metadata, attach payloads once).
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, "shingle")
        .where(F.col("a.doc_id") != F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("contained"),
            F.col("b.doc_id").alias("container"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
        .join(
            sizes.select(
                F.col("doc_id").alias("contained"),
                F.col("n_sh").alias("n_contained"),
            ),
            "contained",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("container"),
                F.col("n_sh").alias("n_container"),
            ),
            "container",
        )
    )
    cont = F.col("n_common") / F.col("n_contained")
    return (
        common.withColumn("containment", F.round(cont, 4))
        .where(F.col("containment") >= F.lit(num) / F.lit(den))
        .select(
            "contained", "container", "n_contained", "n_container",
            "containment",
        )
    )


def minhash_signatures(
    docs: DataFrame, num_hashes: int = 8, n: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """(doc_id, h, v): v = min over shingles of hash(h || '|' || shingle).

    Lexicographic min over salted md5 hex is a valid minwise family for
    set-similarity banding (identical sets agree on every h; similar sets
    agree with probability ≈ Jaccard). One explode (×num_hashes) + one
    partial-aggregable groupBy.

    ``hash_fn``: ``md5`` (default) is the oracle-replayable mode;
    ``xxhash64`` mins the native signed bigint instead — no hex
    round-trip, whole-stage codegen — the production mode for the 100 TB
    dedup path (same minwise family property; banding and est_sim only
    ever compare v for equality). An index built in one mode must be
    probed in the same mode.
    """
    # distinct=False: min() is duplicate-insensitive, so the set-dedup
    # shuffle would be pure overhead here
    sh = with_shingles(docs, n, distinct=False)
    # One groupBy with num_hashes parallel min() aggregates instead of a
    # ×num_hashes explode: the shuffle moves each (doc, shingle) row once,
    # and every partial min combines map-side. Then unpivot to (doc, h, v)
    # rows (stack is a projection — no extra shuffle).
    wide = sh.groupBy("doc_id").agg(*_minhash_probe_aggs(num_hashes, hash_fn))
    return _stack_signature(wide, "doc_id", num_hashes)


def band_keys(mh: DataFrame, band_rows: int = 2) -> DataFrame:
    """(doc_id, b, bkey) LSH band keys from a (doc_id, h, v) signature
    relation — band key = md5 of the band's minhashes concatenated in h
    order (struct-sorted collect_list keeps it order-deterministic for
    any r). Factored out so the incremental path can band a STORED
    signature index without recomputing shingles."""
    return (
        mh.withColumn("b", (F.col("h") / band_rows).cast("int"))
        .groupBy("doc_id", "b")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("h", "v"))),
                        # cast keeps the join type-agnostic: v is a hex
                        # string in oracle mode, a bigint in production
                        # (xxhash64) mode
                        lambda s: s["v"].cast("string"),
                    ),
                    "|",
                )
            ).alias("bkey")
        )
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    num_hashes: int = 8,
    band_rows: int = 2,
    n: int = 3,
    min_est_sim: float = 0.5,
    hash_fn: str = "md5",
) -> DataFrame:
    """MinHash-LSH near-dup candidates with estimated similarity.

    Bands of ``band_rows`` minhashes; band key = md5(v_even || v_odd);
    pairs sharing any band bucket become candidates; est_sim = fraction of
    agreeing minhash positions. With b bands of r rows the capture
    threshold is ≈ (1/b)^(1/r) — defaults give ≈0.5. At 100 TB the band
    join replaces the quadratic shingle self-join; skew in hot buckets is
    handled by AQE skew-join splitting.
    """
    assert num_hashes % band_rows == 0, "num_hashes must divide into bands"
    # Materialize the signature relation once: it feeds FOUR subtrees below
    # (both sides of the band self-join, then m1/m2 in the est_sim join);
    # without lineage truncation the shingle explode + min-agg plan
    # re-executes for each (same pattern as the shingle/simhash relations).
    mh = minhash_signatures(
        docs, num_hashes, n, hash_fn=hash_fn
    ).localCheckpoint(eager=False)
    bands = band_keys(mh, band_rows)
    b1 = bands.alias("b1")
    b2 = bands.alias("b2")
    cands = (
        b1.join(b2, ["b", "bkey"])
        .where(F.col("b1.doc_id") < F.col("b2.doc_id"))
        .select(
            F.col("b1.doc_id").alias("doc1"), F.col("b2.doc_id").alias("doc2")
        )
        .distinct()
    )
    m1 = mh.select(F.col("doc_id").alias("doc1"), "h", F.col("v").alias("v1"))
    m2 = mh.select(F.col("doc_id").alias("doc2"), "h", F.col("v").alias("v2"))
    est = (
        cands.join(m1, "doc1")
        .join(m2, ["doc2", "h"])
        .groupBy("doc1", "doc2")
        .agg(
            F.round(
                F.sum((F.col("v1") == F.col("v2")).cast("int")) / F.lit(num_hashes),
                4,
            ).alias("est_sim")
        )
    )
    return est.where(F.col("est_sim") >= min_est_sim)


def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document: bit j = sign of Σ_tokens (2·parity−1),
    where parity = ascii(hex digit j) mod 2 over md5(token) for bits 0-31
    and md5('1|' || token) for bits 32-63.

    Parity-of-hex-digit gives 32 independent-ish bits per md5 — no bigint
    hex parsing needed, so Spark and DuckDB compute identical values. 64
    bits matter at scale: 16-bit LSH bands (``simhash_pairs``) need enough
    signature entropy that a band key is selective — 8-bit bands over a
    32-bit signature put ~n/256 docs in every bucket, which degenerates to
    all-pairs.
    """
    toks = F.array_distinct(F.split(F.col(text_col), TOKEN_SPLIT))
    exploded = docs.select("doc_id", F.explode(toks).alias("tok")).select(
        "doc_id",
        F.md5("tok").alias("th"),
        F.md5(F.concat(F.lit("1|"), F.col("tok"))).alias("th2"),
    )
    # 64 parallel sum() aggregates over the token rows (not a ×64 explode):
    # one shuffle of (doc, token-hashes), partial sums map-side, then the
    # signature assembles as a pure projection. Aggregates and signature
    # are built as SQL expr strings: the Column-API formulation was ~600
    # py4j round trips of pure driver overhead per query build (~1 s;
    # same lesson as langid_scores — the plan is identical).
    sums = [
        F.expr(
            f"sum(2 * (ascii(substring({'th' if j < 32 else 'th2'}, "
            f"{(j % 32) + 1}, 1)) % 2) - 1) AS s{j}"
        )
        for j in range(64)
    ]
    wide = exploded.groupBy("doc_id").agg(*sums)
    # bit 63 via shiftleft(1L, 63) == Long.MIN_VALUE: the two's-complement
    # sign bit, keeping the sum inside signed-long range on both engines
    sig = " + ".join(
        f"(CASE WHEN s{j} >= 0 THEN shiftleft(cast(1 AS BIGINT), {j}) "
        f"ELSE cast(0 AS BIGINT) END)"
        for j in range(64)
    )
    return wide.selectExpr("doc_id", f"cast({sig} AS BIGINT) AS simhash")


def incremental_exact_dedup(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Incremental dedup: split a NEW batch against an existing fingerprint
    index — the daily-ingest shape (dedup the delta, not the corpus).

    ``index``: DataFrame(fingerprint) of previously-seen content (from
    ``exact_duplicates`` keepers or the corpus fingerprint table).
    Returns (fresh, dupes): fresh rows carry their fingerprint for
    appending to the index. Anti/semi joins broadcast the smaller side —
    at 100 TB the index is bucketed by fingerprint so the join co-locates.
    Within-batch duplicates also collapse (min doc_id survives).
    """
    fp = new_docs.withColumn("fingerprint", fingerprint_expr(F.col(text_col)))
    w_keep = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("keep_id"))
    batch_canon = fp.join(w_keep, "fingerprint").where(
        F.col("doc_id") == F.col("keep_id")
    ).drop("keep_id")
    idx = index.select("fingerprint").distinct()
    fresh = batch_canon.join(idx, "fingerprint", "left_anti")
    dupes = fp.join(
        fresh.select("fingerprint", F.col("doc_id").alias("keep_id")),
        "fingerprint",
        "left",
    ).where(
        F.col("keep_id").isNull() | (F.col("doc_id") != F.col("keep_id"))
    ).drop("keep_id")
    return fresh, dupes


def simhash_band_candidates(sig: DataFrame) -> DataFrame:
    """(doc1, doc2, s1, s2) pairs sharing ≥1 of the 4 16-bit bands of a
    64-bit signature — the LSH candidate stage of ``simhash_pairs``,
    exposed so tests can assert its selectivity directly."""
    band_of = lambda v, i: F.shiftrightunsigned(v, 16 * i).bitwiseAND(
        F.lit(65535)
    )
    # Truncate the signature lineage before the self-join: its two branches
    # are separate subtrees, so without this the 64-aggregate signature
    # computation (explode + shuffle) runs twice (same pattern as the
    # shingle relation in ngram_jaccard_pairs; measured ~2× on sf0.1).
    sig = sig.localCheckpoint(eager=False)
    banded = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("band"), band_of(F.col("simhash"), i).alias("bv"))
                for i in range(4)
            ])
        ).alias("bb"),
    ).select("doc_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bv").alias("bv"))
    a, b = banded.alias("a"), banded.alias("b")
    # First-match-band dedup: a pair agreeing on several bands would emerge
    # from each of those joins; instead of a post-join .distinct() (a full
    # shuffle of the multiplied candidate set), keep the pair only at its
    # LOWEST matching band — for band i require every band j < i to differ.
    # A pure projection filter on the carried signatures; emits each
    # candidate exactly once.
    first_match = F.lit(True)
    for j in range(3):
        first_match = first_match & (
            (F.col("band") <= j)
            | (band_of(F.col("a.simhash"), j) != band_of(F.col("b.simhash"), j))
        )
    return (
        a.join(b, ["band", "bv"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .where(first_match)
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
            F.col("a.simhash").alias("s1"),
            F.col("b.simhash").alias("s2"),
        )
    )


def simhash_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, banded for scale.

    Splits the 64-bit signature into 4 × 16-bit bands; by pigeonhole, any
    pair within hamming ≤ 3 agrees on ≥1 band — join per band, then verify
    the exact distance with bit_count(xor). Avoids the all-pairs cross join
    entirely: 65,536 buckets per band means a bucket holds ~n/65k docs, so
    candidates stay a small fraction of all-pairs (asserted in
    tests/test_dedup_similarity.py) instead of degenerating the way 8-bit
    bands over a 32-bit signature did.
    """
    cand = simhash_band_candidates(simhash(docs))
    ham = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    return (
        cand.withColumn("hamming", ham.cast("bigint"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc1", "doc2", "hamming")
    )


def substring_dup_starts(
    docs: DataFrame,
    window: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
) -> DataFrame:
    """Duplicate-gram START positions (doc_id, pos, __dup=1): every
    sliding ``window``-token gram occurrence that is NOT its hash's
    first (doc_id, pos) occurrence. substring_dedup's stage (1)+(2),
    factored out pre-checkpoint so tests/test_plans.py can pin the
    physical plan. The join-back is UNHINTED since the r13 broadcast
    policy (session.py): plan-time auto-broadcast is off engine-wide,
    so Catalyst can no longer broadcast the corpus-sized keeper
    aggregate off its under-threshold plan-time estimate (measured
    48 s vs 16 s for that bad plan at 400k docs / 19.6M grams — the r7
    alpha-1.12 curve), and AQE picks the strategy from MEASURED sizes:
    a shuffle join that stays linear and skew-splittable on a mega-hot
    boilerplate gram (which a window-over-h formulation — the other way
    to find non-keepers — can never split), broadcast only when the
    keeper side is actually small at runtime.

    ``hash_fn``: md5 (default) hashes the space-joined gram so DuckDB
    replays it; ``xxhash64`` hashes the token-slice ARRAY directly —
    no 16-token string materialization per position at all, the whole
    gram stage stays in codegen (h is only ever compared for equality
    downstream). Honest measurement: ~PARITY at 400k docs (14.4 vs
    14.6 s) — unlike the MinHash family, this operator is bound by the
    SMJ join-back and the span window, not the hash; the knob exists
    for consistency and for corpora where profiling shows otherwise."""
    warn_if_plan_time_broadcast(docs.sparkSession)
    toks = F.split(F.col(text_col), " ")
    base = docs.select(F.col(id_col), toks.alias("__toks"))
    grams = (
        base.where(F.size("__toks") >= window)
        .select(
            F.col(id_col),
            F.col("__toks"),
            F.explode(
                F.sequence(F.lit(1), F.size("__toks") - (window - 1))
            ).alias("pos"),
        )
        .select(
            F.col(id_col),
            "pos",
            (
                F.md5(
                    F.concat_ws(
                        " ", F.slice(F.col("__toks"), F.col("pos"), window)
                    )
                )
                if hash_fn == "md5"
                else F.xxhash64(F.slice(F.col("__toks"), F.col("pos"), window))
            ).alias("h"),
        )
    )
    keeper = grams.groupBy("h").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__k")
    )
    return (
        grams.join(keeper, "h")
        .where(
            (F.col(id_col) != F.col(f"__k.{id_col}"))
            | (F.col("pos") != F.col("__k.pos"))
        )
        .select(F.col(id_col), "pos", F.lit(1).alias("__dup"))
    )


def substring_dedup(
    docs: DataFrame,
    window: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
) -> DataFrame:
    """Exact substring deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): remove every token span
    that repeats a >= ``window``-token substring seen earlier in the
    corpus, first occurrence wins. The reference implementation builds a
    suffix array; the Spark-expressible equivalent for a FIXED minimum
    match length is sliding ``window``-token gram hashes (stride 1): a
    token is removed iff it is covered by some gram whose identical text
    occurred earlier in global (doc_id, pos) order. Exact duplicate docs
    vanish entirely; partially-copied docs lose exactly the copied spans.

    Returns (doc_id, n_tokens, n_removed, clean_fp) where clean_fp is the
    md5 of the surviving tokens joined by single spaces ('' when the whole
    doc is removed) — compact enough to value-check against the oracle.

    Scale: three corpus-sized shuffles, all on uniform keys — (1) the
    gram-hash groupBy picking each hash's first occurrence
    (partial-aggregable min-struct, so a boilerplate gram repeated 10^9
    times costs one row per map task, never a hot reducer — this is why
    it's NOT a row_number window over the hash); (2) the join marking
    duplicate gram starts back onto the token stream; (3) the per-doc
    running-max window that widens gram starts into covered spans. Shuffles
    (2) and (3) run ONLY over docs that contain a duplicate gram (semi
    join on the checkpointed dup set); the untouched majority of a
    lightly-duplicated corpus is a pure projection. The stride-1 gram
    stream is the big intermediate (n_tokens rows/doc, same as the corpus
    itself); nothing is quadratic and nothing collects.
    """
    from pyspark.sql import Window

    toks = F.split(F.col(text_col), " ")
    base = docs.select(F.col(id_col), toks.alias("__toks"))
    # dup feeds two consumers (the touched-doc set and the span marking);
    # checkpoint so the gram self-aggregation pipeline runs once
    dup = substring_dup_starts(
        docs, window, text_col, id_col, hash_fn=hash_fn
    ).localCheckpoint(eager=False)
    # Only docs that CONTAIN a duplicate gram pay the token explode + span
    # window — in a lightly-duplicated corpus that's a small minority. The
    # untouched majority is a pure projection (no explode, no shuffle):
    # n_removed = 0 and clean_fp over the original token array.
    dup_docs = dup.select(id_col).distinct()
    untouched = base.join(dup_docs, id_col, "anti").select(
        F.col(id_col),
        F.size("__toks").cast("bigint").alias("n_tokens"),
        F.lit(0).cast("bigint").alias("n_removed"),
        F.md5(F.concat_ws(" ", F.col("__toks"))).alias("clean_fp"),
    )
    tok = (
        base.join(dup_docs, id_col, "semi")
        .select(F.col(id_col), F.posexplode("__toks").alias("__p0", "tok"))
        .select(F.col(id_col), (F.col("__p0") + 1).alias("pos"), "tok")
    )
    w_doc = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = (
        tok.join(dup, [id_col, "pos"], "left")
        .withColumn(
            "__last_dup",
            F.max(F.when(F.col("__dup") == 1, F.col("pos"))).over(w_doc),
        )
        .withColumn(
            "__removed",
            F.col("__last_dup").isNotNull()
            & (F.col("pos") < F.col("__last_dup") + window),
        )
    )
    touched = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("__removed"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_removed"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("__removed"),
                                F.struct(F.col("pos"), F.col("tok")),
                            )
                        )
                    ),
                    lambda s: s["tok"],
                ),
            )
        ).alias("clean_fp"),
    )
    return touched.unionByName(untouched)


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 4,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003
    — the MOSS algorithm): hash every k-token gram, slide a w-gram window,
    keep each window's minimum hash. Guarantee: any shared run of at least
    w + k − 1 tokens contributes at least one shared fingerprint, while
    only ~2/(w+1) of grams are kept — position-aware local fingerprints at
    a fraction of the full gram set. Complements the global signatures
    (MinHash: set similarity; SimHash: multiset distance) with
    match-LOCATING capability.

    Ties and selection are deterministic: the window minimum is the packed
    (hash << 20 | pos) value, so equal hashes resolve to the earliest
    position and both engines agree bit-for-bit. Output is one row per doc:
    gram count, selected-fingerprint count, density, and an md5 digest of
    the ordered fingerprint set (compact value-check surface).

    Scale: grams ride the scan (index explode, no shuffle); the forward-
    looking min is ONE per-doc window (single shuffle on doc_id); the
    distinct + digest fold into the same per-doc aggregation. Nothing
    touches a corpus-wide key, so there is no hot-reducer risk at all —
    cheaper than every other pass in this module.
    """
    from pyspark.sql import Window

    toks = F.split(F.col(text_col), " ")
    base = docs.select(F.col(id_col), toks.alias("__toks")).where(
        F.size("__toks") >= k + w - 1
    )
    # the packed (hash << 20 | pos) layout gives the position 20 bits —
    # overflow would silently corrupt the window-min ordering, so fail
    # loudly instead (split longer docs before fingerprinting). The check
    # is folded into `packed` below (same pattern as pq_encode's dim
    # guard) so column pruning can't drop it.
    len_guard = F.coalesce(
        F.assert_true(
            F.size("__toks") < F.lit(1048576),
            F.lit("winnow_fingerprints: document exceeds 2^20 tokens; "
                  "pos would overflow the packed fingerprint"),
        ).cast("bigint"),
        F.lit(0).cast("bigint"),
    )
    grams = base.select(
        F.col(id_col),
        F.size("__toks").alias("__n"),
        F.explode(
            F.sequence(F.lit(1), F.size("__toks") - (k - 1))
        ).alias("pos"),
        F.col("__toks"),
    ).select(
        F.col(id_col),
        "__n",
        "pos",
        # 28-bit gram hash packed with the 20-bit position: lexicographic
        # min on the packed value == (hash, pos) min, engine-portable
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            " ", F.slice(F.col("__toks"), F.col("pos"), k)
                        )
                    ),
                    1,
                    7,
                ),
                16,
                10,
            ).cast("bigint")
            * F.lit(1048576)
            + F.col("pos")
            + len_guard
        ).alias("packed"),
    )
    w_fwd = (
        Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    )
    selected = (
        grams.withColumn("__wmin", F.min("packed").over(w_fwd))
        # only full windows select (window start must leave w grams)
        .where(F.col("pos") <= F.col("__n") - (k - 1) - (w - 1))
        .select(F.col(id_col), F.col("__n"), F.col("__wmin"))
    )
    return selected.groupBy(id_col).agg(
        (F.max("__n") - (k - 1)).cast("bigint").alias("n_grams"),
        F.count_distinct(F.col("__wmin")).cast("bigint").alias("n_selected"),
        F.round(
            F.count_distinct(F.col("__wmin"))
            / (F.max("__n") - (k - 1)),
            4,
        ).alias("density"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_set("__wmin")),
                    lambda x: x.cast("string"),
                ),
            )
        ).alias("fp_digest"),
    )


def incremental_lsh_dedup(
    new_docs: DataFrame,
    index_sigs: DataFrame,
    num_hashes: int = 8,
    band_rows: int = 2,
    n: int = 3,
    min_est_sim: float = 0.5,
    batch_sigs: DataFrame | None = None,
    index_bands: DataFrame | None = None,
) -> DataFrame:
    """Incremental NEAR-dup dedup: match a NEW batch against a STORED
    MinHash signature index (plus within-batch pairs) — the daily-delta
    near-dup path beside ``incremental_exact_dedup``'s fingerprint one.

    ``index_sigs``: the persisted (doc_id, h, v) signature table from
    prior passes (``minhash_signatures`` output — the index a 100 TB
    pipeline maintains instead of re-shingling the corpus each day).
    Only the BATCH explodes shingles; the index contributes its stored
    signatures to banding and the est-sim rerank. A doc_id present in
    BOTH sides is a re-ingest, not a duplicate: its stale index
    signatures AND band keys are dropped so the batch's fresh ones
    stand alone (a naive union would double its (h, v) rows and corrupt
    its band key into matching nothing). The band join keys on
    (b, bkey) with the batch side small — broadcast or AQE-handled —
    and candidate pairs are exactly those with at least one batch doc:
    (index doc, batch doc) in that orientation regardless of id
    magnitude (ids carry no recency order — hash-derived ids or
    backfills violate it), plus id-ordered within-batch pairs. Returns
    (doc1, doc2, est_sim) with doc2 always the batch doc and
    est_sim ≥ ``min_est_sim``.

    ``index_bands``: the persisted (doc_id, b, bkey) band-key table —
    :func:`band_keys` over the stored signatures, which a steady-state
    pipeline maintains ALONGSIDE the signatures (band keys are a pure
    function of the signatures, so the store can always append both in
    the same transaction). This is the 100 TB knob: without it the band
    keys of the whole accumulated index are re-AGGREGATED every
    generation — a store-sized groupBy shuffle (docs × num_hashes rows;
    at 10⁹ docs × 8 hashes an 8-billion-row shuffle per generation, the
    one store-sized shuffle the r12 crawl loop had left). With it the
    per-generation plan is scan + join only: every store-touching stage
    (the re-ingest anti-joins, the band match, the est-sim rerank) keys
    on a column the batch side bounds, so AQE broadcasts the batch and
    the store is SCANNED once per stage, never aggregated
    (SCALING.json ``neardedup_incremental``: fixed batch vs growing
    store, flat). When omitted the band keys are derived on the fly —
    correct but store-aggregating; results are identical either way
    (banding a union groupBy vs banding the two sides separately
    partitions the same (doc_id, b) groups, since the stale-signature
    drop guarantees no doc draws rows from both sides).
    """
    # ``batch_sigs``: a caller that also PERSISTS the batch signatures
    # (the crawl loop appends kept docs' sigs to its side store) passes
    # them in to avoid re-shingling the batch
    if batch_sigs is None:
        batch_sigs = minhash_signatures(
            new_docs, num_hashes, n
        ).localCheckpoint(eager=False)
    batch_ids = batch_sigs.select("doc_id").distinct()
    fresh_index = index_sigs.join(batch_ids, "doc_id", "left_anti")
    # batch bands feed both the index-vs-batch join and the within-batch
    # self-join — truncate lineage so the batch banding groupBy runs once
    batch_bands = band_keys(batch_sigs, band_rows).localCheckpoint(
        eager=False
    )
    if index_bands is None:
        idx_bands = band_keys(fresh_index, band_rows)
    else:
        # same re-ingest rule as the signatures: stored band keys of a
        # re-ingested doc are stale — its fresh batch bands stand alone
        idx_bands = index_bands.select("doc_id", "b", "bkey").join(
            batch_ids, "doc_id", "left_anti"
        )
    cands = (
        # index-vs-batch: store side scanned, batch side joined on the
        # band key (equi-join — AQE broadcasts the small batch side)
        idx_bands.alias("b1")
        .join(batch_bands.alias("b2"), ["b", "bkey"])
        .select(
            F.col("b1.doc_id").alias("doc1"),
            F.col("b2.doc_id").alias("doc2"),
        )
        .unionByName(
            # within-batch pairs, id-ordered once
            batch_bands.alias("b1")
            .join(batch_bands.alias("b2"), ["b", "bkey"])
            .where(F.col("b1.doc_id") < F.col("b2.doc_id"))
            .select(
                F.col("b1.doc_id").alias("doc1"),
                F.col("b2.doc_id").alias("doc2"),
            )
        )
        .distinct()
    )
    # est-sim rerank: doc1 may be an index doc (fresh signatures joined
    # from the store scan — a re-ingested doc1 only ever appears via
    # within-batch pairs, where its BATCH signatures must speak) or a
    # batch doc; doc2 is always a batch doc, so m2 never scans the store
    m1 = fresh_index.unionByName(batch_sigs).select(
        F.col("doc_id").alias("doc1"), "h", F.col("v").alias("v1")
    )
    m2 = batch_sigs.select(
        F.col("doc_id").alias("doc2"), "h", F.col("v").alias("v2")
    )
    return (
        cands.join(m1, "doc1")
        .join(m2, ["doc2", "h"])
        .groupBy("doc1", "doc2")
        .agg(
            F.round(
                F.sum((F.col("v1") == F.col("v2")).cast("int"))
                / F.lit(num_hashes),
                4,
            ).alias("est_sim")
        )
        .where(F.col("est_sim") >= min_est_sim)
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered membership: the crawler's "is this outlink already in
# the frontier?" check at 100 TB. A plain LEFT ANTI join shuffles every
# candidate AND the whole seen-set on the key; the Bloom bitmap (built in
# one partial-aggregable pass over the seen-set, a few KB..MB of (word,
# bits) rows) broadcasts to the candidate side, where k md5 probes answer
# "definitely unseen" MAP-SIDE with zero shuffle. Only the possible-member
# residue — |candidates| * (true-member fraction + FPR) — reaches the
# exact anti join, so the result is EXACT (the bitmap can only produce
# false POSITIVES, which the residual join then rejects; false negatives
# are impossible). This is the same semi-join-reduction shape Spark's own
# runtime bloom filter (spark.sql.optimizer.runtime.bloomFilter.enabled)
# injects for shuffle joins — expressed here as an explicit operator so
# the bitmap can be PERSISTED and reused across crawl generations instead
# of being rebuilt per query. At a 10^9-URL frontier a single bitmap at
# 10 bits/key is ~1.2 GB — over the practical broadcast ceiling — so
# bloom_unseen_sharded splits the key space by pmod(xxhash64(key),
# n_shards): one independent m-bit bitmap per shard, each candidate
# probing exactly the one shard its key hashes to, each shard's bitmap
# broadcast separately and well under the ceiling.
# Reference parity: the purgatory/seen caches of
# core/.../persistence/AbstractQueryingSpout.java:149-175 play this role
# per-JVM in the reference; the bitmap is the cluster-wide equivalent.
# ---------------------------------------------------------------------------

def _probe_pos_expr(key_col: str, j: int, m_bits: int):
    """Probe j's bit position for a key: md5("bf{j}|" || key) first 12 hex
    digits as an integer, mod m_bits. THE single definition — the bitmap
    builders and all three probe forms must use it so their bitmaps stay
    bit-for-bit interchangeable (and so the DuckDB oracles can replay it
    with the same arithmetic)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"bf{j}|"), F.col(key_col))), 1, 12
            ),
            16,
            10,
        ).cast("long")
        % m_bits
    )


def _check_bf_namespace(cols) -> None:
    """Reject caller columns inside the reserved ``__bf_`` namespace —
    withColumn would silently REPLACE them with probe positions."""
    clash = [c for c in cols if c.startswith("__bf_")]
    if clash:
        raise ValueError(
            f"candidates columns collide with bloom_unseen's reserved "
            f"__bf_ namespace: {clash}"
        )


def bloom_bitmap(
    seen: DataFrame, key_col: str, m_bits: int = 1 << 16, k: int = 3
) -> DataFrame:
    """Build the (word_idx, word) Bloom bitmap (m_bits/64 rows max) from
    the seen-set's keys: k md5-salted probe positions per key, bit_or into
    64-bit words. Deterministic (md5 arithmetic), so the DuckDB oracle can
    rebuild it bit-for-bit."""
    probes = F.array(
        *[_probe_pos_expr(key_col, j, m_bits) for j in range(k)]
    )
    return (
        seen.select(F.explode(probes).alias("pos"))
        .select(
            F.expr("pos div 64").alias("word_idx"),
            F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("w"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(w)").alias("word"))
    )


def bloom_unseen(
    seen: DataFrame,
    candidates: DataFrame,
    key_col: str,
    m_bits: int = 1 << 16,
    k: int = 3,
    bitmap: DataFrame | None = None,
) -> DataFrame:
    """EXACT unseen-set: rows of ``candidates`` whose ``key_col`` is not
    present in ``seen`` — same result as a plain LEFT ANTI join (the
    registered oracle IS that plain form), but candidates that miss any of
    k broadcast-bitmap probes are classified map-side and never enter the
    anti join; only possible-members (true members + the bitmap's false
    positives) pay the shuffle.

    Pass a cached ``bitmap`` (from :func:`bloom_bitmap` with the SAME
    m_bits/k) to amortize the build across crawl generations — with the
    STALENESS CAVEAT spelled out on :func:`bloom_unseen_broadcast`: keys
    ADDED to ``seen`` after the bitmap build are misclassified as
    definitely-unseen (no-false-negative only holds for fed-in keys), so
    amortize only under an idempotent downstream consumer; removals from
    ``seen`` merely cost residue. Caller-provided bitmaps also carry the
    persistence lifecycle (the in-operator build persists and leaves the
    release to Spark's cache eviction / catalog clearCache)."""
    if bitmap is None:
        # persist: each of the k probe joins broadcasts the bitmap frame,
        # and WITHOUT a persist each broadcast RE-RUNS the whole
        # seen-scan + explode + bit_or aggregation (k full rebuilds —
        # measured 3x the anti join it is meant to beat); the bitmap is
        # m_bits/64 rows, cache-sized by construction
        bitmap = bloom_bitmap(seen, key_col, m_bits=m_bits, k=k).persist()
    warn_if_plan_time_broadcast(candidates.sparkSession)
    probed, present = _bloom_probe(candidates, bitmap, key_col, m_bits, k)
    # the definite-new and possible-member branches both re-evaluate the
    # probe subtree, but with the bitmap PERSISTED the broadcast exchanges
    # are reused across branches, so the second pass costs only the
    # stream-side probing (a checkpoint here would also hide the probe
    # joins from plan audits)
    out_cols = list(candidates.columns)
    definite_new = probed.where(~present).select(*out_cols)
    possible = probed.where(present).select(*out_cols)
    exact_new = possible.join(
        seen.select(F.col(key_col)).distinct(), key_col, "left_anti"
    )
    return definite_new.unionByName(exact_new)


def _bloom_probe(candidates, bitmap, key_col, m_bits, k):
    """Attach the k broadcast-bitmap probes to ``candidates``; return the
    augmented frame and the all-probes-hit predicate. Working columns use
    a reserved ``__bf_`` prefix — plain names like ``p0`` would let
    ``withColumn`` silently REPLACE a caller column of the same name and
    corrupt the final projection, so a caller column in the reserved
    namespace is rejected loudly instead."""
    _check_bf_namespace(candidates.columns)
    probed = candidates
    present = None
    for j in range(k):
        pos = _probe_pos_expr(key_col, j, m_bits)
        bm = bitmap.select(
            F.col("word_idx").alias(f"__bf_wi{j}"),
            F.col("word").alias(f"__bf_wd{j}"),
        )
        probed = probed.withColumn(f"__bf_p{j}", pos).join(
            F.broadcast(bm),
            F.expr(f"__bf_p{j} div 64") == F.col(f"__bf_wi{j}"),
            "left",
        )
        hit = F.expr(
            f"__bf_wd{j} is not null and "
            f"(shiftright(__bf_wd{j}, cast(__bf_p{j} % 64 as int)) & 1L) = 1L"
        )
        present = hit if present is None else (present & hit)
    return probed, present


def _shard_expr(key_col: str, n_shards: int):
    """Shard id of a key: pmod(xxhash64(key), n_shards) — deterministic,
    uniform, and cheap enough to recompute on both the build and probe
    sides (no column needs to travel)."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards)).cast("int")


def bloom_bitmap_sharded(
    seen: DataFrame,
    key_col: str,
    n_shards: int,
    m_bits: int = 1 << 16,
    k: int = 3,
) -> DataFrame:
    """One independent Bloom bitmap per key shard: rows of
    ``(shard, word_idx, word)``, where ``shard = pmod(xxhash64(key),
    n_shards)`` and each shard's bitmap spans its own ``m_bits`` positions
    (probe positions are computed exactly as in :func:`bloom_bitmap`, so a
    1-shard sharded bitmap IS the plain bitmap). Built in one
    partial-aggregable pass — the groupBy on (shard, word_idx) map-side
    combines to at most ``n_shards * m_bits/64`` rows."""
    probes = F.array(
        *[_probe_pos_expr(key_col, j, m_bits) for j in range(k)]
    )
    return (
        seen.select(
            _shard_expr(key_col, n_shards).alias("shard"),
            F.explode(probes).alias("pos"),
        )
        .select(
            "shard",
            F.expr("pos div 64").alias("word_idx"),
            F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("w"),
        )
        .groupBy("shard", "word_idx")
        .agg(F.expr("bit_or(w)").alias("word"))
    )


def bloom_unseen_sharded(
    seen: DataFrame,
    candidates: DataFrame,
    key_col: str,
    n_shards: int = 8,
    m_bits: int = 1 << 16,
    k: int = 3,
    bitmap: DataFrame | None = None,
    broadcast_residue: bool = False,
) -> DataFrame:
    """EXACT unseen-set via a bucket-SHARDED Bloom prefilter — same result
    as :func:`bloom_unseen` and as the plain LEFT ANTI join, but no single
    broadcast ever carries the whole bitmap. The key space is split by
    ``pmod(xxhash64(key), n_shards)``; each candidate hashes to EXACTLY one
    shard (the split predicates are disjoint and total), each shard branch
    broadcasts only its own ``m_bits``-bit bitmap, and the branch unions
    feed ONE exact anti join for the possible-member residue. Sizing: at
    10^9 seen URLs and 10 bits/key, n_shards=64 puts each broadcast at
    ~20 MB — comfortably under Spark's broadcast ceiling, where the
    unsharded bitmap (~1.2 GB) is not shippable.

    The per-shard bitmaps live in one ``(shard, word_idx, word)`` frame
    (pass ``bitmap`` from :func:`bloom_bitmap_sharded` to reuse a
    persisted one across crawl generations); each branch broadcasts only
    its shard's slice. Reference parity: the per-JVM seen caches of
    core/.../persistence/AbstractQueryingSpout.java:149-175, sharded the
    way the reference shards its frontier by bucket."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    if bitmap is None:
        # persist is load-bearing here: n_shards branches x k probes each
        # broadcast a slice of this frame — unpersisted, the build
        # aggregation re-runs n_shards*k times
        bitmap = bloom_bitmap_sharded(
            seen, key_col, n_shards, m_bits=m_bits, k=k
        ).persist()
    warn_if_plan_time_broadcast(candidates.sparkSession)
    out_cols = list(candidates.columns)
    _check_bf_namespace(candidates.columns)
    # Materialize (candidates + shard key) ONCE: every shard branch —
    # and the definite/possible split inside each — re-evaluates its
    # input subtree, so without this the candidates' upstream (typically
    # a fingerprint/normalization scan) recomputes 2·n_shards times
    # (measured 2.4× the whole operator at n_shards=4). The checkpoint
    # sits BELOW the probe joins, so plan audits still see them.
    shard_of = _shard_expr(key_col, n_shards)
    cand = candidates.withColumn("__bf_shard", shard_of).localCheckpoint(
        eager=False
    )
    definite_parts: list[DataFrame] = []
    possible_parts: list[DataFrame] = []
    for s in range(n_shards):
        cand_s = cand.where(F.col("__bf_shard") == s).drop("__bf_shard")
        bm_s = bitmap.where(F.col("shard") == s).select("word_idx", "word")
        probed, present = _bloom_probe(cand_s, bm_s, key_col, m_bits, k)
        definite_parts.append(probed.where(~present).select(*out_cols))
        possible_parts.append(probed.where(present).select(*out_cols))
    definite_new = reduce(DataFrame.unionByName, definite_parts)
    possible = reduce(DataFrame.unionByName, possible_parts)
    if broadcast_residue:
        # zero-seen-shuffle form (same contract as bloom_unseen_broadcast):
        # seen is only SCANNED map-side; both broadcasts are bounded by
        # the candidate batch — the crawl-generation shape
        found = seen.join(
            F.broadcast(possible.select(key_col).distinct()),
            key_col,
            "left_semi",
        ).select(key_col).distinct()
        exact_new = possible.join(F.broadcast(found), key_col, "left_anti")
    else:
        # Unhinted since the r13 broadcast policy (session.py): plan-time
        # auto-broadcast is off, so the under-estimated seen set (spark.
        # range-derived fixtures estimate bytes pre-widening) can no
        # longer be picked as a broadcast anti-join BUILD — the r9
        # 16M-key driver kill. AQE sizes the join from measured shuffle
        # bytes: the residue stays linear, broadcast only fires when a
        # side is actually small at runtime.
        exact_new = possible.join(
            seen.select(F.col(key_col)).distinct(),
            key_col,
            "left_anti",
        )
    return definite_new.unionByName(exact_new)


def bloom_bitmap_array(seen: DataFrame, key_col: str, m_bits: int = 1 << 16,
                       k: int = 3):
    """Materialize :func:`bloom_bitmap` as a dense numpy uint64 array —
    the executor-shippable form for :func:`bloom_unseen_broadcast`. The
    collect is bounded by the SKETCH size (m_bits/8 bytes, independent of
    row width), not the data: size m_bits for the driver, or shard with
    :func:`bloom_unseen_sharded` when one array would not fit."""
    import numpy as np

    rows = bloom_bitmap(seen, key_col, m_bits=m_bits, k=k).collect()
    arr = np.zeros(m_bits // 64 + 1, dtype=np.uint64)
    if rows:
        idx = np.array([r.word_idx for r in rows], dtype=np.int64)
        w = np.array([r.word for r in rows], dtype=np.int64).view(np.uint64)
        arr[idx] = w
    return arr


def bloom_bitmap_array_sharded(
    seen: DataFrame,
    key_col: str,
    n_shards: int,
    m_bits: int = 1 << 16,
    k: int = 3,
) -> list:
    """Materialize :func:`bloom_bitmap_sharded` as a LIST of dense numpy
    uint64 arrays (one per shard, each spanning the PER-SHARD ``m_bits``)
    — the executor-shippable form for
    :func:`bloom_unseen_broadcast_sharded`. The collect is bounded by the
    TOTAL sketch size (n_shards · m_bits / 8 bytes), never the data, and
    rides the ARROW collect path (``toArrow`` → one vectorized numpy
    scatter per shard): the row-object collect took minutes and ~100
    bytes/word of driver Python heap at 64M bitmap words (256M keys on
    the r9 scale curve) where the columnar path moves the same words as
    three flat buffers."""
    import numpy as np

    frame = bloom_bitmap_sharded(seen, key_col, n_shards, m_bits=m_bits, k=k)
    arrays = [
        np.zeros(m_bits // 64 + 1, dtype=np.uint64) for _ in range(n_shards)
    ]
    tbl = frame.toArrow()
    shard = tbl.column("shard").to_numpy()
    wi = tbl.column("word_idx").to_numpy()
    w = tbl.column("word").to_numpy().astype(np.int64).view(np.uint64)
    for s in range(n_shards):
        m = shard == s
        arrays[s][wi[m]] = w[m]
    return arrays


def bloom_unseen_broadcast_sharded(
    seen: DataFrame,
    candidates: DataFrame,
    key_col: str,
    n_shards: int = 8,
    m_bits: int = 1 << 16,
    k: int = 3,
    bitmap_arrays=None,
    broadcast_residue: bool = False,
) -> DataFrame:
    """EXACT unseen-set via SHARDED ``SparkContext.broadcast`` numpy
    bitmaps + one Arrow pass per shard branch — the 100 TB form of the
    Bloom membership family, combining :func:`bloom_unseen_broadcast`'s
    vectorized probe (no per-probe broadcast-hash JOIN builds) with
    :func:`bloom_unseen_sharded`'s bounded broadcast units.

    Why this shape (r9 scale-curve finding): the JOIN-form sharded probe
    materializes ``n_shards × k`` SEPARATE HashedRelation broadcasts,
    each proportional to a shard's bitmap ROWS — at 16M keys / 2^28 bits
    that is 24 × ~4.2M-row builds pinned simultaneously, which OOMs an
    8 GB driver before the first batch probes. Here each shard's bitmap
    is ONE TorrentBroadcast of a dense ``m_bits/8``-byte array: the
    driver holds the arrays only transiently, executors PULL a shard's
    blocks lazily on first use — a node only ever materializes the
    shards its tasks actually touch — and the bit tests run as one numpy
    gather per Arrow batch. At 10^9 seen URLs / 10 bits/key, 64 shards
    of ~20 MB replace the unshippable 1.2 GB single array.

    Same exactness contract as every form in this family (false
    positives resolved by the exact residue; staleness caveat as
    documented on :func:`bloom_unseen_broadcast`); ``broadcast_residue``
    selects the zero-seen-shuffle residue, and the default residue uses
    the merge-hinted SMJ anti join.

    Broadcast lifecycle: REPEATED callers (e.g. once per crawl
    generation) should pass prebuilt ``Broadcast`` objects in
    ``bitmap_arrays`` and own their destroy, e.g. on each bitmap
    refresh. When this function has to create
    broadcasts itself — ``bitmap_arrays=None`` or raw numpy arrays — it
    EAGERLY materializes the probe checkpoint and then ``unpersist()``s
    them (driver copy retained for fault re-fetch), so standalone
    per-call use cannot accumulate undestroyed executor copies for the
    session lifetime. The price is losing plan laziness on that
    convenience path only.
    """
    import numpy as np

    from pyspark import Broadcast

    if bitmap_arrays is None:
        bitmap_arrays = bloom_bitmap_array_sharded(
            seen, key_col, n_shards, m_bits=m_bits, k=k
        )
    if len(bitmap_arrays) != n_shards:
        raise ValueError(
            f"bitmap_arrays has {len(bitmap_arrays)} shards, "
            f"expected {n_shards}"
        )
    sc = candidates.sparkSession.sparkContext
    bcasts, created = [], []
    for a in bitmap_arrays:
        if isinstance(a, Broadcast):
            bcasts.append(a)
        else:
            b = sc.broadcast(a)
            bcasts.append(b)
            created.append(b)
    out_cols = list(candidates.columns)
    _check_bf_namespace(out_cols)
    # one checkpoint below the branch split (same rationale as
    # bloom_unseen_sharded: every branch re-evaluates its input subtree)
    cand = candidates.withColumn(
        "__bf_shard", _shard_expr(key_col, n_shards)
    ).localCheckpoint(eager=False)
    pos_cols = [f"__bf_p{j}" for j in range(k)]
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in candidates.schema.fields
    ) + ", __bf_hit boolean"

    def make_runner(bcast):
        def run(batches):
            a = bcast.value
            one = np.uint64(1)
            for pdf in batches:
                hit = np.ones(len(pdf), dtype=bool)
                for c in pos_cols:
                    p = pdf[c].to_numpy(dtype=np.int64)
                    hit &= (
                        (a[p >> 6] >> (p & 63).astype(np.uint64)) & one
                    ).astype(bool)
                out = pdf.drop(columns=pos_cols)
                out["__bf_hit"] = hit
                yield out
        return run

    flagged_parts = []
    for s in range(n_shards):
        branch = cand.where(F.col("__bf_shard") == s).drop("__bf_shard")
        for j in range(k):
            branch = branch.withColumn(
                f"__bf_p{j}", _probe_pos_expr(key_col, j, m_bits)
            )
        flagged_parts.append(
            branch.mapInPandas(make_runner(bcasts[s]), schema=schema)
        )
    # internally-created broadcasts: force the probe now, then release
    # executor copies (see the lifecycle note in the docstring)
    flagged = reduce(DataFrame.unionByName, flagged_parts).localCheckpoint(
        eager=bool(created)
    )
    for b in created:
        b.unpersist()
    definite_new = flagged.where(~F.col("__bf_hit")).select(*out_cols)
    possible = flagged.where(F.col("__bf_hit")).select(*out_cols)
    if broadcast_residue:
        found = seen.join(
            F.broadcast(possible.select(key_col).distinct()),
            key_col,
            "left_semi",
        ).select(key_col).distinct()
        exact_new = possible.join(F.broadcast(found), key_col, "left_anti")
    else:
        # unhinted — see bloom_unseen_join: the r13 broadcast policy
        # removes the plan-time-estimate broadcast hazard engine-wide
        exact_new = possible.join(
            seen.select(F.col(key_col)).distinct(),
            key_col,
            "left_anti",
        )
    return definite_new.unionByName(exact_new)


def bloom_unseen_broadcast(
    seen: DataFrame,
    candidates: DataFrame,
    key_col: str,
    m_bits: int = 1 << 16,
    k: int = 3,
    bitmap_array=None,
    broadcast_residue: bool = False,
) -> DataFrame:
    """EXACT unseen-set via a ``SparkContext.broadcast`` bitmap + ONE
    Arrow pass — same result as :func:`bloom_unseen` / the plain LEFT
    ANTI, faster probe: the k probe POSITIONS are computed JVM-side with
    exactly the md5 arithmetic of :func:`bloom_bitmap` (so the bitmap is
    interchangeable between all three forms), and the bit tests run as
    one vectorized numpy gather per batch instead of k broadcast hash
    JOINS whose build cost is proportional to the bitmap size (measured
    6x on a 2^28-bit bitmap). Definite-new rows never reach the exact
    anti-join residue, same as the join form.

    Pass ``bitmap_array`` (from :func:`bloom_bitmap_array`, SAME
    m_bits/k — a numpy array, or an existing ``SparkContext.broadcast``
    of one to reuse a single broadcast across calls) to amortize the
    build across crawl generations. STALENESS CAVEAT (applies to every
    cached-bitmap form here): a bitmap missing keys ADDED to ``seen``
    after the build misclassifies those keys as definitely-unseen —
    Bloom bits only guarantee no-false-negative for keys that were fed
    in. A stale bitmap is therefore safe only where a downstream
    idempotent consumer absorbs the extras (an insert-if-absent
    merge such as the frontier's), or where ``seen`` only shrinks (removals
    just cost residue). Rebuild on additions otherwise.

    ``broadcast_residue=True`` replaces the residue LEFT ANTI (which
    SHUFFLES the whole seen set every call) with two broadcast joins:
    ``found = seen LEFT SEMI broadcast(residue keys)`` — the seen set is
    only SCANNED map-side, never shuffled — then ``residue LEFT ANTI
    broadcast(found)``. Zero shuffle anywhere in the operator. Correct
    whenever the candidate batch (upper bound of both broadcasts) fits
    the broadcast ceiling — the crawl-generation shape; leave False for
    batch sizes rivaling the seen set."""
    import numpy as np
    import pandas as pd

    from pyspark import Broadcast

    if bitmap_array is None:
        bitmap_array = bloom_bitmap_array(seen, key_col, m_bits=m_bits, k=k)
    if isinstance(bitmap_array, Broadcast):
        bcast = bitmap_array  # caller-managed lifecycle (destroy() theirs)
    else:
        sc = candidates.sparkSession.sparkContext
        bcast = sc.broadcast(bitmap_array)
    out_cols = list(candidates.columns)
    _check_bf_namespace(out_cols)
    probed = candidates
    pos_cols = []
    for j in range(k):
        probed = probed.withColumn(
            f"__bf_p{j}", _probe_pos_expr(key_col, j, m_bits)
        )
        pos_cols.append(f"__bf_p{j}")

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in candidates.schema.fields
    ) + ", __bf_hit boolean"

    def run(batches):
        a = bcast.value
        one = np.uint64(1)
        for pdf in batches:
            hit = np.ones(len(pdf), dtype=bool)
            for c in pos_cols:
                p = pdf[c].to_numpy(dtype=np.int64)
                hit &= (
                    (a[p >> 6] >> (p & 63).astype(np.uint64)) & one
                ).astype(bool)
            out = pdf.drop(columns=pos_cols)
            out["__bf_hit"] = hit
            yield out

    flagged = probed.mapInPandas(run, schema=schema).localCheckpoint(
        eager=False
    )  # both branches below read it; see bloom_unseen
    definite_new = flagged.where(~F.col("__bf_hit")).select(*out_cols)
    possible = flagged.where(F.col("__bf_hit")).select(*out_cols)
    if broadcast_residue:
        found = seen.join(
            F.broadcast(possible.select(key_col).distinct()),
            key_col,
            "left_semi",
        ).select(key_col).distinct()
        exact_new = possible.join(F.broadcast(found), key_col, "left_anti")
    else:
        exact_new = possible.join(
            seen.select(F.col(key_col)).distinct(), key_col, "left_anti"
        )
    return definite_new.unionByName(exact_new)


# ---------------------------------------------------------------------------
# Shard-level MinHash sketch — corpus-to-corpus similarity without touching
# pairs of documents. One signature per SHARD (snapshot, dump, language
# slice, ...): v_h = min over every shingle occurring anywhere in the shard
# of md5(h || '|' || shingle) — the same minwise family minhash_signatures
# uses per document, lifted to the shard's shingle SET. est Jaccard of two
# shards = fraction of agreeing hash slots (Broder 1997). The 100 TB
# properties that make this the right tool for "how much does crawl N
# overlap crawl N-1":
#   - ONE partial-aggregable pass over the shingle stream; the sketch is
#     num_shards x num_hashes rows TOTAL regardless of corpus size.
#   - MERGEABLE: the signature of a union of shards is the elementwise min
#     of their signatures (min is associative/commutative/idempotent), so
#     shards sketch independently and never re-scan.
#   - the pairwise stage joins SKETCHES, never data: num_shards^2 work at
#     num_hashes rows per pair.
# Deterministic md5 probes keep the whole pipeline bit-replayable in the
# DuckDB oracle (same contract as the HLL / Count-Min sketches).
# ---------------------------------------------------------------------------

def shard_minhash(
    docs: DataFrame,
    shard_expr: str,
    num_hashes: int = 16,
    n: int = 3,
    text_col: str = "text",
    hash_fn: str = "md5",
) -> DataFrame:
    """(shard, h, v) — one ``num_hashes``-slot MinHash signature per shard.

    ``shard_expr`` is any SQL expression over ``docs``'s columns (a
    snapshot id column, ``pmod(xxhash64(doc_id), k)``, a language tag).
    Same codegen'd index-explode shingling as ``with_shingles`` (carrying
    the shard key instead of doc_id), duplicates left to the min's
    map-side combine, then ONE groupBy with ``num_hashes`` parallel min
    aggregates + a stack projection — exactly minhash_signatures' shape,
    keyed by shard.

    ``hash_fn``: ``md5`` (default) is the oracle-replayable mode — v is
    the min md5 hex string; ``xxhash64`` is the production mode — v is
    the min signed-bigint native hash, no hex round-trip, stays in
    whole-stage codegen (same minwise family either way; mergeability
    and the agreement estimator are hash-agnostic, and
    ``shard_similarity_pairs`` only ever compares v for equality).
    """
    grams = with_shingles(
        docs, n, text_col=text_col, distinct=False,
        id_expr=shard_expr, id_alias="shard",
    )
    wide = grams.groupBy("shard").agg(
        *_minhash_probe_aggs(num_hashes, hash_fn)
    )
    return _stack_signature(wide, "shard", num_hashes)


def merge_shard_signatures(stored: DataFrame, new: DataFrame) -> DataFrame:
    """Fold a new generation's (shard, h, v) signatures into a stored
    index: elementwise min per (shard, h) — min is associative,
    commutative, and idempotent, so generations sketch independently,
    merge in any order, and replays are no-ops. This is the operational
    half of the mergeability property ``shard_minhash``'s tests pin:
    store crawl N's signature next to N−1's (num_shards × num_hashes
    rows each — FrontierTable-metadata-sized) and the cross-crawl
    overlap question never re-touches data. One tiny groupBy; both
    hash modes (hex-string md5, bigint xxhash64) order the same way
    min needs."""
    return (
        stored.unionByName(new)
        .groupBy("shard", "h")
        .agg(F.min("v").alias("v"))
    )


def shard_similarity_pairs(
    sig: DataFrame, materialize: bool = True
) -> DataFrame:
    """(shard_a, shard_b, agree, num_hashes, est_jaccard) for every
    unordered pair of shards in a (shard, h, v) sketch relation.

    Pure sketch-space work: equi-join on the hash slot index, one
    partial-aggregable count of agreeing slots per pair. est_jaccard is
    the agreement fraction rounded to 4 dp (one exact small-integer
    division — cross-engine stable).

    ``materialize`` (default on) localCheckpoints the signature table
    first: the self-join references it twice and the static plan
    replays the full shingle scan per side (AQE stage reuse usually
    recovers the second pass at runtime, but that is adaptive, not
    structural). The sketch is num_shards × num_hashes rows, so eager
    materialization guarantees ONE shingle pass (same rationale as
    ``hll_overlap_pairs``).
    """
    if materialize:
        sig = sig.localCheckpoint(eager=True)
    a = sig.select(
        F.col("shard").alias("shard_a"), "h", F.col("v").alias("va")
    )
    b = sig.select(
        F.col("shard").alias("shard_b"), "h", F.col("v").alias("vb")
    )
    return (
        a.join(b, "h")
        .where(F.col("shard_a") < F.col("shard_b"))
        .groupBy("shard_a", "shard_b")
        .agg(
            F.sum(
                F.when(F.col("va") == F.col("vb"), 1).otherwise(0)
            ).alias("agree"),
            F.count(F.lit(1)).alias("num_hashes"),
        )
        .select(
            "shard_a",
            "shard_b",
            "agree",
            "num_hashes",
            F.round(F.col("agree") / F.col("num_hashes"), 4).alias(
                "est_jaccard"
            ),
        )
    )


def tf_terms(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, term, w): whitespace-token term frequencies — the
    weighted-set view of a document that weighted-Jaccard dedup
    consumes. ONE explode + ONE partial-aggregable groupBy."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.col(text_col), " ")).alias("term"),
        )
        .where("term is not null and term <> ''")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )


def weighted_minhash_signatures(
    terms: DataFrame,
    num_hashes: int = 8,
    hash_fn: str = "md5",
    max_weight: int = 16,
) -> DataFrame:
    """(doc_id, h, v) MinHash signature of the WEIGHTED set — weighted
    Jaccard J_w(A, B) = Σ_t min(w_A(t), w_B(t)) / Σ_t max(w_A(t), w_B(t))
    — via the exact integer-weight reduction: a term with weight w
    becomes the w distinct elements term#1..term#w, and plain Jaccard of
    the expanded multisets IS weighted Jaccard (min(wa, wb) expanded
    elements agree, max(wa, wb) exist). The plain-set MinHash machinery
    then applies unchanged, so this reuses the SAME salted min-probe
    block as ``minhash_signatures`` — identical hash family, identical
    banding compatibility.

    Unweighted shingle Jaccard scores a doc and its
    one-word-repeated-9× variant as identical (same term SET); the
    weighted estimate separates them — the discriminating case for
    boilerplate/spam near-dup detection (CCNet/RefinedWeb weigh terms
    for exactly this reason).

    Scale shape: ONE explode (×min(w, max_weight) per term — weights are
    CLIPPED at ``max_weight`` so a pathological repeated-token document
    cannot blow up the expansion; clipping is the standard tf
    saturation) + ONE partial-aggregable groupBy(doc) with num_hashes
    parallel mins. ``hash_fn="xxhash64"`` is the codegen production
    mode, ``md5`` the oracle-replayable default (same contract as every
    MinHash variant in this module).
    """
    expanded = (
        terms.select(
            "doc_id",
            F.col("term"),
            F.least(F.col("w"), F.lit(max_weight)).alias("__wc"),
        )
        .select(
            "doc_id",
            F.explode(
                F.expr("sequence(1, __wc)")
            ).alias("__i"),
            "term",
        )
        .select(
            "doc_id",
            F.concat(
                F.col("term"), F.lit("#"), F.col("__i").cast("string")
            ).alias("shingle"),
        )
    )
    wide = expanded.groupBy("doc_id").agg(
        *_minhash_probe_aggs(num_hashes, hash_fn)
    )
    return _stack_signature(wide, "doc_id", num_hashes)


def weighted_pair_audit(
    terms: DataFrame,
    num_hashes: int = 8,
    hash_fn: str = "md5",
    max_weight: int = 16,
) -> DataFrame:
    """Estimate-vs-exact audit over consecutive doc-id pairs: for every
    (d, d+1) pair present in ``terms``, the number of agreeing signature
    slots (the MinHash weighted-Jaccard estimator's numerator —
    est = est_agree / num_hashes) next to the EXACT clipped
    weighted-Jaccard numerator and denominator (Σ min / Σ max as
    integers — no float leaves either engine, so the driver hash is
    exact). Consecutive pairs keep the audit linear in docs; the
    LSH banding path for all-pairs candidates is ``band_keys`` over
    ``weighted_minhash_signatures`` unchanged."""
    # Materialize the term table ONCE (r14): the estimate leg (via the
    # signature expansion) and the exact Σmin/Σmax leg are separate
    # subtrees over `terms`, so without the cut the corpus-sized
    # tokenize+explode+tf-groupBy ran twice per action. Lazy — the
    # caller's single action materializes it. Serialized level, as
    # linkrank._local_checkpoint_tracked: the JVM default keeps the
    # corpus-sized table deserialized and thrashes GC at tens of
    # millions of rows.
    from pyspark import StorageLevel

    terms = terms.localCheckpoint(
        eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
    )
    sig = weighted_minhash_signatures(
        terms, num_hashes=num_hashes, hash_fn=hash_fn,
        max_weight=max_weight,
    )
    a, b = sig.alias("a"), sig.alias("b")
    agree = (
        a.join(
            b,
            (F.col("a.doc_id") + 1 == F.col("b.doc_id"))
            & (F.col("a.h") == F.col("b.h")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(
            F.sum((F.col("a.v") == F.col("b.v")).cast("int"))
            .cast("bigint")
            .alias("est_agree")
        )
    )
    w = terms.select(
        "doc_id", "term",
        F.least(F.col("w"), F.lit(max_weight)).alias("wc"),
    )
    wa, wb = w.alias("wa"), w.alias("wb")
    exact = (
        wa.join(
            wb,
            (F.col("wa.doc_id") + 1 == F.col("wb.doc_id"))
            & (F.col("wa.term") == F.col("wb.term")),
            "full_outer",
        )
        .select(
            F.coalesce(
                F.col("wa.doc_id"), F.col("wb.doc_id") - 1
            ).alias("doc_a"),
            F.coalesce(F.col("wa.wc"), F.lit(0)).alias("w_a"),
            F.coalesce(F.col("wb.wc"), F.lit(0)).alias("w_b"),
        )
        .groupBy("doc_a")
        .agg(
            F.sum(F.least("w_a", "w_b")).cast("bigint").alias("wj_min_sum"),
            F.sum(F.greatest("w_a", "w_b")).cast("bigint")
            .alias("wj_max_sum"),
        )
    )
    return agree.join(exact, "doc_a").select(
        "doc_a", "doc_b", "est_agree", "wj_min_sum", "wj_max_sum"
    )
