"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale posture (100 TB):
- exact_dedup: one hash-partitioned groupBy on the dedup key — the
  minimum possible shuffle; AQE handles skewed keys.
- jaccard_pairs: exact all-pairs via shingle inverted index. Quadratic
  in posting-list length — it is the *correctness oracle* at small SF;
  the scale path is minhash_dedup_pairs below.
- minhash_dedup_pairs: MinHash signatures + banded LSH. Cost is linear
  in corpus size (K min-aggregations map-side) plus a bucket join whose
  fan-out is controlled by band width; candidates are then verified with
  exact Jaccard, so results equal jaccard_pairs whenever LSH recall
  catches the threshold (r=4, b=16 -> P(catch | j=0.8) > 0.999).
- simhash: narrow map + one groupBy.
- simhash_pairs: pigeonhole band join — any pair within max_hamming bit
  flips agrees exactly on one of max_hamming+1 bands, so candidates come
  from an equi-join, and bit_count(xor) verifies in codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from ._materialize import _checkpoint, _pin, _release
from .textops import tokens

SHINGLE_N = 3
# 16 bands x 4 rows = 64 hashes: P(candidate | j=0.8) = 1-(1-0.8^4)^16
# ~ 0.9998, and candidates are verified exactly afterwards, so the only
# risk is a vanishing false-negative rate; halving K from 128 halves
# both the signature aggregation width and plan-compile cost.
MINHASH_K = 64
LSH_BANDS = 16
LSH_ROWS = 4  # K = bands * rows


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep the lowest id per duplicate group — deterministic, unlike a
    bare dropDuplicates. One shuffle on the dedup key."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count")
    )


def _shingle_expr() -> F.Column:
    """Distinct SHINGLE_N-gram shingle array over a `toks` column —
    textops._ngrams (the one n-gram constructor) + array_distinct, so
    the gram width follows SHINGLE_N everywhere (the previous inline
    copy hardcoded three element_at terms against a SHINGLE_N sequence
    bound — a wrong-shingles bug waiting behind a one-line constant
    edit, code-review r11). Callers pre-filter size >= SHINGLE_N
    (_tokenized), and _ngrams is additionally guarded for short docs."""
    from .textops import _ngrams

    return F.array_distinct(_ngrams(F.col("toks"), SHINGLE_N))


def _tokenized(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, toks) for docs long enough to shingle. Docs shorter than
    SHINGLE_N tokens drop out (no shingle -> never a candidate),
    matching the oracle."""
    return df.select(F.col(id_col), tokens(text_col).alias("toks")).where(
        F.size("toks") >= SHINGLE_N
    )


def shingle_arrays(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, sh) with sh the distinct-shingle array — one narrow
    projection, no explode."""
    return _tokenized(df, id_col, text_col).select(
        F.col(id_col), _shingle_expr().alias("sh")
    )


def shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, shingle) distinct pairs — the exploded inverted-index view.

    The explode consumes the shingle EXPRESSION directly, never an
    aliased array column: explode over an attribute makes Catalyst's
    InferFiltersFromGenerate push a size()>0 filter below the project,
    re-inlining the whole shingle construction (tokenize included) into
    the filter — measured 10x slower at sf0.1."""
    return _tokenized(df, id_col, text_col).select(
        F.col(id_col), F.explode(_shingle_expr()).alias("shingle")
    )


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard >= threshold via inverted-index
    self-join. Output: (d1, d2, jacc), d1 < d2.

    `max_df` is the defense-in-depth cap (VERDICT r8 #2): the
    self-join's cost is sum(|posting list|^2), so ONE boilerplate
    shingle shared by 1e6 docs is a 1e12-pair bucket — the exact
    blowup _cap_buckets prevents on the LSH path. With max_df set,
    shingles whose document frequency exceeds it are dropped from the
    JOIN side only; per-doc sizes stay full, so for any surviving pair
    the computed intersection can only shrink and the union can only
    grow — computed jacc <= true jacc, meaning every emitted pair is a
    true >= threshold pair (precision 1.0) and the only possible error
    is a MISSED pair whose overlap hides inside ultra-common shingles
    (for realistic doc sizes a shingle in >max_df docs cannot by
    itself certify a 0.8 pair). When the cap binds a warning names the
    number of pruned shingles; q184's minhash_recall_audit measures
    the recall cost on a sample. Default None keeps the exact
    semantics the oracles replay.

    Setting max_df is EAGER by contract: the bind flag requires the
    hot-shingle census (one shingle groupBy) to run at call time, and
    the (heavy-hitter-bounded, tiny) hot set stays checkpointed for
    the life of the returned plan because the anti-join reads it.
    Only compose this path into pipelines you will actually execute;
    the default (max_df=None) builds fully lazily."""
    # The exploded index is repartitioned by the join key ONCE and
    # pinned (_pin, MEMORY_AND_DISK), so the self-join's two
    # sides and `sizes` are co-partitioned reads of one cached relation:
    # no per-side exchange, no per-consumer re-derivation. The pin
    # costs what a second exchange's shuffle files would, and it spills
    # to disk past memory. The index is ~10x the text, so this is the
    # gate-SF oracle form; the documented 100 TB pair path is MinHash
    # LSH.
    sh = shingles(df, id_col, text_col)
    sh = _pin(sh.repartition(F.col("shingle")))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    join_sh = sh
    if max_df is not None:
        # hot set is heavy-hitter-bounded (<= total postings / max_df
        # distinct shingles), so checkpointing + counting it is cheap;
        # the count is the "cap binds" flag the caller asked for
        hot = _checkpoint(
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > max_df)
            .select("shingle")
        )
        n_hot = hot.count()
        if n_hot:
            import warnings

            warnings.warn(
                f"jaccard_pairs: max_df={max_df} pruned {n_hot} hot "
                "shingle(s) from the inverted index - output is a "
                "subset of the exact pair set (precision 1.0, recall "
                "may drop); measure with minhash_recall_audit",
                stacklevel=2,
            )
        join_sh = sh.join(hot, "shingle", "left_anti")
    a = join_sh.select(F.col(id_col).alias("d1"), "shingle")
    b = join_sh.select(F.col(id_col).alias("d2"), "shingle")
    common = (
        a.join(b, "shingle")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    na = sizes.select(F.col(id_col).alias("d1"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("d2"), F.col("n").alias("nb"))
    jacc = F.col("c").cast("double") / (
        F.col("na") + F.col("nb") - F.col("c")
    ).cast("double")
    return (
        common.join(F.broadcast(na), "d1")
        .join(F.broadcast(nb), "d2")
        .select("d1", "d2", jacc.alias("jacc"))
        .where(F.col("jacc") >= threshold)
    )


def _mh_consts(k: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the multiply-mod-2^32 hash
    family: a odd (=> x -> a*x mod 2^32 is a bijection), both 31-bit so
    a*x + b stays inside signed int64 (ANSI mode throws on overflow)."""
    import hashlib

    out = []
    for i in range(k):
        da = hashlib.sha256(f"mh:a:{i}".encode()).digest()
        db = hashlib.sha256(f"mh:b:{i}".encode()).digest()
        a = (int.from_bytes(da[:4], "big") & 0x7FFFFFFF) | 1
        b = int.from_bytes(db[:4], "big") & 0x7FFFFFFF
        out.append((a, b))
    return out


def minhash_signatures(
    sh: DataFrame, id_col: str = "doc_id", k: int = MINHASH_K
) -> DataFrame:
    """K minhash values per doc: h_i(s) = (a_i * x + b_i) mod 2^32 over
    x = xxhash64(s) — one hash evaluation per shingle plus K mult-adds,
    then K map-side partial min aggregates in one groupBy pass (the
    shuffle carries one 64-min row per doc, not the shingles).

    NOT Kirsch-Mitzenmacher a+i*b double hashing: that family is fine
    for Bloom filters but breaks minwise independence — a single
    unshared shingle whose (a,b) is small dominates the min for MANY i
    at once, so near-identical docs (j=0.98) can disagree on every
    band. Odd-multiplier mod-2^32 maps are bijections, giving
    effectively independent permutations per i.

    Formulation note: a zero-shuffle alternative (64 array_min folds
    over the per-doc hashed shingle array, the simhash trick) produces
    identical signatures and is ~12% faster STANDALONE, but 2x slower
    inside minhash_dedup_pairs (2.8s -> 5.2s at sf0.1): both banded
    join sides re-run the 64 array folds, while this formulation's
    map-side combine makes the re-scan cheap. Keep the explode+groupBy."""
    base = sh.select(
        F.col(id_col),
        F.xxhash64(F.col("shingle")).bitwiseAND(F.lit(0xFFFFFFFF)).alias("_x"),
    )
    # one parsed expression per aggregate: a Column tree costs one py4j
    # round trip per node, a SQL string one per aggregate
    mins = [
        F.expr(f"min((({a} * _x) + {b}) & {0xFFFFFFFF}) AS h{i}")
        for i, (a, b) in enumerate(_mh_consts(k))
    ]
    return base.groupBy(id_col).agg(*mins)


def _band_buckets(
    sig: DataFrame, id_col: str, bands: int, rows: int
) -> DataFrame:
    """(id, band, key, nxt) LSH bucket rows from a K-wide signature
    table: one xxhash64 over each band's `rows` signature columns.
    `nxt` is the NEXT band's key (cyclic) — carried so oversized
    buckets can be re-split by the following band (see
    _cap_buckets)."""

    def band_key(b: int) -> str:
        cols = ", ".join(f"h{b * rows + r}" for r in range(rows))
        return f"xxhash64({cols})"

    band_keys = F.expr(
        "array("
        + ", ".join(
            f"named_struct('band', {b}, 'key', {band_key(b)},"
            f" 'nxt', {band_key((b + 1) % bands)})"
            for b in range(bands)
        )
        + ")"
    )
    # sigall = one hash of the FULL signature, computed once per doc
    # before the band explode: the level-2 re-split key for buckets
    # that stay hot even after next-band refinement (_cap_buckets) —
    # identical docs have identical sigall, so the jaccard-1.0 recall
    # floor survives any number of re-splits
    sigall = F.expr(
        "xxhash64(" + ", ".join(f"h{i}" for i in range(bands * rows)) + ")"
    )
    return sig.select(
        F.col(id_col), sigall.alias("sigall"), F.explode(band_keys).alias("bk")
    ).select(
        id_col,
        "sigall",
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
        F.col("bk.nxt").alias("nxt"),
    )


def _cap_buckets(
    buckets: DataFrame,
    id_col: str,
    bucket_cap: int | None,
    census: DataFrame | None = None,
) -> DataFrame:
    """Bound the banded join's quadratic term, two levels deep:

    Level 1: any (band, key) bucket larger than bucket_cap is re-split
    by the NEXT band's key — inside a re-split bucket the LSH guarantee
    weakens to "agrees on this band AND the next".

    Level 2 (round 7, found by the skew stress fixture): a
    template-heavy corpus (boilerplate body + tiny unique serial — the
    classic crawl pathology) collides on the NEXT band too, so level 1
    barely moves the bucket size (measured: 1922 -> 1802 on the stress
    fixture). Buckets still above bucket_cap after the next-band
    refinement are shattered by `sigall`, the full-signature hash: the
    bucket degenerates to groups of signature-identical docs, whose
    size is the corpus's max signature multiplicity — which upstream
    EXACT dedup (q18, the documented first stage of corpus prep, q50)
    keeps at ~1. jaccard-1.0 pairs (identical signatures -> identical
    sigall) survive BOTH levels, so the recall floor is unchanged;
    near-dup pairs inside a doubly-hot bucket trade recall for a
    bounded join, the same trade level 1 already made.

    Unlike simhash (<= n_bands * 2^width enumerable keys), minhash
    bucket keys are 64-bit hashes, so the full size census is NOT
    broadcastable at corpus scale. Only the OVERSIZED buckets are
    joined back (at most total_rows/bucket_cap of them — tiny for any
    sane cap), via left joins with no broadcast hint so AQE picks the
    strategy from the hot set's real size; the level-2 census only
    aggregates rows already known hot.

    census: buckets to measure sizes over (default: `buckets` itself).
    The cross-corpus variant passes the CORPUS side's buckets as the
    census for BOTH sides, so the refine-or-not decision is identical
    on the two join inputs (a one-sided refinement would silently drop
    matching pairs)."""
    if bucket_cap is None:
        return buckets.drop("nxt", "sigall")
    cen = census if census is not None else buckets
    hot = (
        cen.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > bucket_cap)
        .select("band", "key", F.lit(True).alias("_hot"))
    )
    # ONE refinement lookup keyed (band, key, nxt), built from hot rows
    # only (a semi-join-sized aggregate): every refined group of a hot
    # bucket gets a row whose _hot2 flag says whether THAT group is
    # still oversized. Rows of cold buckets have no lookup row at all,
    # so one left join classifies every bucket row three ways
    # (null -> cold, false -> level-1 re-split, true -> level-2
    # shatter). Round 7 shipped this as two sequential left joins
    # (hot on (band,key), then hot2 on (band,key,nxt)) and paid +18%
    # on q20 for the second probe of every bucket row (VERDICT r7 #4);
    # folding the level-1 flag into the level-2 census costs nothing —
    # the census already enumerates exactly the (band,key,nxt) groups
    # of hot buckets.
    refine = (
        cen.join(hot, ["band", "key"])
        .groupBy("band", "key", "nxt")
        .agg((F.count(F.lit(1)) > bucket_cap).alias("_hot2"))
    )
    return buckets.join(refine, ["band", "key", "nxt"], "left").select(
        id_col,
        "band",
        # re-split keys are salted so refined keys cannot collide
        # back into the plain-key space except with xxhash64
        # probability (a collision only ADDS candidates, which
        # exact verification removes)
        F.when(
            F.col("_hot2"),
            F.xxhash64(
                F.lit("resplit2"), F.col("key"), F.col("nxt"), F.col("sigall")
            ),
        )
        .when(
            F.col("_hot2").isNotNull(),
            F.xxhash64(F.lit("resplit"), F.col("key"), F.col("nxt")),
        )
        .otherwise(F.col("key"))
        .alias("key"),
    )


def minhash_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    bucket_cap: int | None = 10_000,
) -> DataFrame:
    """LSH candidates -> exact-Jaccard verification. The scale path:

    - signatures are K map-side partial min aggregates over the shingle
      rows (minhash_signatures) — the shuffle carries one K-wide row
      per doc, never the shingles themselves;
    - candidate discovery is the banded bucket self-join over
      (band, key) rows, with oversized buckets re-split by the next
      band (_cap_buckets) so a template-heavy corpus cannot send the
      join quadratic in one bucket;
    - verification joins the candidate pairs back to the per-doc shingle
      arrays (one pass, candidate-id semi-prune, min_by/max_by pairing)
      and computes exact Jaccard via array_intersect — it ships arrays
      for candidate docs only, never the full inverted index. The
      candidate set is data-dependent (boilerplate-heavy corpora can
      make it huge), so it carries NO broadcast hint — AQE picks the
      join strategy from its measured size.
    """
    arrs = shingle_arrays(df, id_col, text_col)
    sig = minhash_signatures(shingles(df, id_col, text_col), id_col, k=bands * rows)
    # banded join + exact verify live in minhash_pairs_from_signatures
    # (shared with the precomputed-signature deployment path). `df` is
    # passed as the raw verify source so candidate ids prune the
    # (id, text) rows BEFORE tokenization — only candidate docs ever
    # shingle on the verify side; the data-dependent candidate set
    # carries no broadcast hint, AQE decides at runtime.
    return minhash_pairs_from_signatures(
        sig, arrs, threshold, id_col, bands, rows, bucket_cap,
        raw=df, text_col=text_col,
    )


def minhash_signature_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
) -> DataFrame:
    """The PERSISTABLE signature table for a real deployment: (id, h0..
    hK-1), one K-wide row per doc. Write it once per corpus snapshot
    (parquet/bucketed-by-id); every later dedup run — incremental
    (minhash_dedup_pairs_cross) or full — starts from this table
    instead of re-tokenizing 100 TB of text. At ~8*K bytes/doc the
    table is ~0.5% the size of a 100 KB-doc corpus."""
    return minhash_signatures(shingles(df, id_col, text_col), id_col, k=bands * rows)


def minhash_pairs_from_signatures(
    sig: DataFrame,
    arrs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    bucket_cap: int | None = 10_000,
    raw: DataFrame | None = None,
    text_col: str = "text",
) -> DataFrame:
    """minhash_dedup_pairs' banded-join + exact-verify tail, starting
    from a PRECOMPUTED signature table (minhash_signature_table, read
    back from storage) and the shingle arrays for verification.
    Composing minhash_signature_table |> minhash_pairs_from_signatures
    is semantically identical to minhash_dedup_pairs (pinned by test)
    — the split exists so the expensive signature pass can be paid
    once per corpus snapshot instead of once per dedup run.

    The raw band rows are pinned (MEMORY_AND_DISK, _pin's FIFO
    registry) before fanning out to the census + both self-join sides:
    the signature subtree contains higher-order-function lambdas that
    defeat Spark's exchange-reuse canonicalization, so without the pin
    the scan->shingle->64-min pipeline executes FOUR times
    (plan-audited; at 100 TB, 4 corpus scans vs 1 is the whole game).
    Pinned rows are ~16x(id,band,2 keys) per doc (~600 B/doc, same
    order as the signature table); the tail spills to disk.

    raw: the pre-shingle (id_col, text_col) frame.
    When given (minhash_dedup_pairs passes its input), the verify side
    is rebuilt from raw semi-pruned by candidate ids BEFORE tokenizing,
    so only candidate docs ever tokenize or shingle for verification.
    The earlier `arrs.join(cand_ids, left_semi)` form relied on the
    optimizer pushing the semi below arrs' shingle projection; the
    executed plan shows it does NOT (the full corpus shingled, then
    joined), so the prune is applied to the raw rows explicitly. When
    raw is None (the precomputed-arrays deployment path) the semi
    still prunes which arrays the pair joins read."""
    buckets = _cap_buckets(
        _pin(_band_buckets(sig, id_col, bands, rows)), id_col, bucket_cap
    )
    l = buckets.select(F.col(id_col).alias("d1"), "band", "key")
    r = buckets.select(F.col(id_col).alias("d2"), "band", "key")
    # cand feeds THREE consumers (the verify-side id prune + the two
    # array-attach joins below); unpinned, each would re-run the
    # banding join. Candidate pairs are two longs per row — tiny. This
    # mirrors minhash_dedup_pairs_cross, which pins its cand and
    # semi-prunes both verify sides.
    cand = _pin(
        l.join(r, ["band", "key"])
        .where(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )
    cand_ids = cand.select(F.explode(F.array("d1", "d2")).alias(id_col)).distinct()
    if raw is not None:
        va = shingle_arrays(
            raw.join(cand_ids, id_col, "left_semi"), id_col, text_col
        )
    else:
        va = arrs.join(cand_ids, id_col, "left_semi")
    # the candidate-pruned arrays feed both attach joins: pin them so
    # candidate docs shingle once, not once per side
    va = _pin(va)
    # attach each side's array with a plain inner join (candidate-sized
    # inputs, no broadcast hint — AQE decides): a pair whose partner
    # was deleted or edited below the shingle minimum since a persisted
    # snapshot simply finds no array row and drops out, the same
    # guarantee the previous min_by/max_by + count_distinct==2 form
    # gave (code-review r11) without its three-level sort aggregate
    # and (d1, d2, doc_id) exchange.
    s1 = va.select(F.col(id_col).alias("d1"), F.col("sh").alias("s1"))
    s2 = va.select(F.col(id_col).alias("d2"), F.col("sh").alias("s2"))
    per_pair = cand.join(s1, "d1").join(s2, "d2")
    inter = F.size(F.array_intersect(F.col("s1"), F.col("s2"))).cast("double")
    union = (F.size("s1") + F.size("s2")).cast("double") - inter
    return per_pair.select("d1", "d2", (inter / union).alias("jacc")).where(
        F.col("jacc") >= threshold
    )


def minhash_dedup_pairs_cross(
    new: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    bucket_cap: int | None = 10_000,
    corpus_sig: DataFrame | None = None,
) -> DataFrame:
    """Incremental dedup: near-dup pairs BETWEEN a new batch and an
    already-deduplicated corpus — the shape every continuously-crawled
    training set needs, because re-running all-pairs dedup over
    100 TB + 1 TB of new data to admit the 1 TB is absurd. Output:
    (new_id, corpus_id, jacc) with jacc >= threshold.

    corpus_sig: the REAL 100 TB operating mode — pass the persisted
    signature table (minhash_signature_table written to parquet once
    per corpus snapshot, read back here) and the corpus text is never
    re-tokenized for banding; it is only consulted for the
    candidate-pruned verification arrays. Default None recomputes
    signatures from `corpus` (pair parity with the persisted path is
    pinned by test).

    Scale shape: signatures for BOTH sides (the corpus side is one
    linear pass — or, in a real deployment, a precomputed signature
    table read back from storage); the banded join is new x corpus, so
    its cost scales with the NEW batch's bucket occupancy, not the
    corpus's pairs. Oversized CORPUS buckets are re-split by the next
    band on both sides (the census comes from the corpus side only, so
    the refinement decision is consistent across the join — see
    _cap_buckets). Verification ships shingle arrays for candidate
    docs only (candidate-id semi-prune on both sides, no broadcast
    hint — the candidate set is data-dependent, AQE decides), exactly
    like minhash_dedup_pairs."""
    sig_n = minhash_signatures(shingles(new, id_col, text_col), id_col, k=bands * rows)
    sig_c = (
        corpus_sig
        if corpus_sig is not None
        else minhash_signatures(
            shingles(corpus, id_col, text_col), id_col, k=bands * rows
        )
    )
    raw_n = _band_buckets(sig_n, id_col, bands, rows)
    # the corpus band rows feed THREE consumers (census for both
    # sides' refinement + the corpus join side); lambda subtrees
    # defeat exchange reuse, so pin them — one corpus signature pass
    # instead of three (see minhash_pairs_from_signatures)
    raw_c = _pin(_band_buckets(sig_c, id_col, bands, rows))
    bn = _cap_buckets(raw_n, id_col, bucket_cap, census=raw_c).select(
        F.col(id_col).alias("new_id"), "band", "key"
    )
    bc = _cap_buckets(raw_c, id_col, bucket_cap).select(
        F.col(id_col).alias("corpus_id"), "band", "key"
    )
    # cand feeds TWO consumers (the pair join and the corpus-side
    # semi-prune); unpinned, each re-runs the whole banding join AND
    # the new-side signature pass (lambda subtrees defeat exchange
    # reuse). Candidate pairs are two longs per row — tiny relative to
    # anything else in this plan.
    cand = _pin(
        bn.join(bc, ["band", "key"]).select("new_id", "corpus_id").distinct()
    )
    # prune BOTH sides to candidate docs BEFORE tokenizing: the semi
    # applies to the raw (id, text) rows — the optimizer does not push
    # a semi below the shingle projection (see
    # minhash_pairs_from_signatures), so pruning the array frames
    # would still tokenize every doc. Only candidate docs ever
    # shingle, and the final pair join runs over candidate-sized
    # inputs. No broadcast hints — the candidate set is
    # data-dependent; AQE broadcasts when it is small.
    new_ids = cand.select(F.col("new_id").alias(id_col)).distinct()
    corpus_ids = cand.select(F.col("corpus_id").alias(id_col)).distinct()
    a1 = shingle_arrays(
        new.join(new_ids, id_col, "left_semi"), id_col, text_col
    ).select(F.col(id_col).alias("new_id"), F.col("sh").alias("s1"))
    a2 = shingle_arrays(
        corpus.join(corpus_ids, id_col, "left_semi"), id_col, text_col
    ).select(F.col(id_col).alias("corpus_id"), F.col("sh").alias("s2"))
    paired = a1.join(cand, "new_id").join(a2, "corpus_id")
    inter = F.size(F.array_intersect(F.col("s1"), F.col("s2"))).cast("double")
    union = (F.size("s1") + F.size("s2")).cast("double") - inter
    return paired.select(
        "new_id", "corpus_id", (inter / union).alias("jacc")
    ).where(F.col("jacc") >= threshold)


SIMHASH_BITS = 48  # stay within positive signed-64 range when assembling
SIMHASH_MAX_HAMMING = 3


def md5_token_hash(t: F.Column) -> F.Column:
    """Portable 60-bit token hash: the first 15 hex chars of md5, as a
    long. Bit-replayable by any engine with md5 (DuckDB:
    `cast('0x' || substring(md5(x),1,15) as ubigint)`), so fingerprints
    built on it are cross-engine comparable — used by the q21 gate.
    Used by the q21/q36 gates; keep xxhash64 (the default) in
    production — though inside simhash_pairs the difference is noise,
    the 48 bit-filter passes dominate the token hash."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn=None,
) -> DataFrame:
    """Token-level SimHash fingerprint: per-bit majority over
    hash(token), computed entirely with higher-order array functions
    inside one narrow projection — no explode, no groupBy, NO shuffle.
    (The explode+48-aggregate formulation produces identical bits but
    shuffles every token row; this one is embarrassingly parallel and
    measured ~3x faster at sf0.1.) Docs with zero tokens drop out,
    matching the exploded formulation.

    hash_fn maps a token Column to a long Column; default xxhash64
    (JVM-side, fastest). Pass `md5_token_hash` when the fingerprint must
    be bit-replayable by an external engine."""
    if hash_fn is None:
        hash_fn = F.xxhash64
    hs = F.transform(tokens(text_col), lambda t: hash_fn(t))
    base = df.select(F.col(id_col), hs.alias("_hs")).where(F.size("_hs") > 0)
    # 48 filter+size passes, one per bit (strict majority sets the bit,
    # ties -> 0 — the same rule as sum(+1/-1) > 0). Measured against a
    # single-pass aggregate-with-array-accumulator formulation
    # (aggregate + zip_with + transform): that one wins standalone
    # (1.3s vs 2.2s at sf0.1) but loses 2-3x inside simhash_pairs —
    # the nested-lambda fold drops out of codegen and allocates a
    # 48-long array per token, and CollapseProject duplicates the
    # expression into every band reference. The per-bit filter chain
    # stays in whole-stage codegen at every call site. The sum is one
    # parsed expression: as a Column tree it would cost one py4j round
    # trip per node (~8.6k).
    fp = F.expr(
        " + ".join(
            f"CASE WHEN size(filter(_hs, h -> (shiftright(h, {i}) & 1) = 1))"
            f" * 2 > size(_hs) THEN CAST({1 << i} AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END"
            for i in range(SIMHASH_BITS)
        )
    )
    return base.select(F.col(id_col), fp.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_cap: int | None = 10_000,
    hash_fn=None,
) -> DataFrame:
    """SimHash near-dup pairs: (d1, d2, hamming) with hamming <=
    max_hamming, d1 < d2.

    Scale path: split the fingerprint into max_hamming+1 bands — by
    pigeonhole, any pair within max_hamming bit flips agrees exactly on
    at least one band — then equi-join on (band, band_value) and verify
    with bit_count(xor). The join touches only band-colliding rows, so
    cost is sum(|bucket|^2) over 2^width-value buckets, not N^2; the
    verify is pure codegen (no Python, no shuffle beyond the bucket
    join).

    bucket_cap bounds the quadratic term at multi-billion-doc scale
    (12-bit bands = only 4,096 buckets/band): any (band, key) bucket
    larger than the cap is re-split by appending the NEXT band's bits
    (same pattern as similarity.neardup_pairs_lsh). Inside a re-split
    bucket the pigeonhole guarantee weakens to "agrees on this band AND
    the next" — hamming-0 pairs always survive (identical fingerprints
    share every band); near-cap pairs trade a little recall for a
    bounded join. The cap check is one partial-agg count over at most
    n_bands*2^width keys plus a broadcast join — no extra data shuffle.

    The fingerprint table is PERSISTED before fan-out: the plan reads it
    three times (size census + both join sides) and each read would
    otherwise re-run the 48-bit-filter scan over the full corpus
    (measured 3x fingerprint cost at sf0.1). At 16 bytes/doc the cache
    is ~16 GB per 10^9 docs — a 100 TB corpus caches its fingerprints in
    a sliver of cluster memory, vs. three full text scans.

    hash_fn is forwarded to simhash(); pass dedup.md5_token_hash when
    the pair set must be replayable by an external engine (q36 gate)."""
    n_bands = max_hamming + 1
    width = SIMHASH_BITS // n_bands

    def band_val(b: int) -> str:
        return (
            f"CAST(shiftright(simhash, {(b % n_bands) * width})"
            f" & {(1 << width) - 1} AS BIGINT)"
        )

    # routed through the FIFO pin registry (not a bare persist) so
    # repeated calls in one session cannot leak cached fingerprint
    # tables — the same discipline the minhash paths use
    fp = _pin(simhash(df, id_col, text_col, hash_fn=hash_fn))
    bands = F.expr(
        "array("
        + ", ".join(
            f"named_struct('band', {b}, 'key', {band_val(b)},"
            f" 'nxt', {band_val(b + 1)})"
            for b in range(n_bands)
        )
        + ")"
    )
    keyed = fp.select(
        F.col(id_col), F.col("simhash"), F.explode(bands).alias("bk")
    ).select(
        id_col,
        "simhash",
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
        F.col("bk.nxt").alias("nxt"),
    )
    if bucket_cap is not None and n_bands >= 2:
        # n_bands == 1 (max_hamming=0) has NO second band to refine
        # with (nxt == key, so the re-split could never split; worse,
        # (key+1)*2^48 overflows int64) — a >cap bucket of identical
        # 48-bit fingerprints is genuine mass duplication, exact_dedup's
        # territory, so the cap is skipped there (code-review r11)
        sizes = keyed.groupBy("band", "key").agg(F.count(F.lit(1)).alias("_n"))
        keyed = keyed.join(F.broadcast(sizes), ["band", "key"]).select(
            id_col,
            "simhash",
            "band",
            # +2^width offset keeps refined keys disjoint from the
            # un-refined [0, 2^width) key range
            F.when(
                F.col("_n") > bucket_cap,
                (F.col("key") + 1) * (2**width) + F.col("nxt"),
            )
            .otherwise(F.col("key"))
            .alias("key"),
        )
    # The jaccard_pairs discipline: the banded rows are repartitioned
    # by the self-join key once and pinned, so both join sides are
    # co-partitioned reads of one cached relation instead of each
    # re-running the band explode and paying its own exchange.
    keyed = _pin(keyed.repartition(F.col("band"), F.col("key")))
    a = keyed.select(F.col(id_col).alias("d1"), F.col("simhash").alias("f1"), "band", "key")
    b = keyed.select(F.col(id_col).alias("d2"), F.col("simhash").alias("f2"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .where(F.col("d1") < F.col("d2"))
        .select(
            "d1",
            "d2",
            F.bit_count(F.col("f1").bitwiseXOR(F.col("f2"))).cast("long").alias("hamming"),
        )
        # verify BEFORE the dedup shuffle: bit_count is a few codegen
        # instructions, so failing pairs never reach the exchange
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["d1", "d2"])
    )


def hamming_pairs(
    df: DataFrame,
    col: str = "text",
    max_dist: int = 2,
    id_col: str = "doc_id",
    bucket_cap: int | None = 10_000,
) -> DataFrame:
    """Hamming near-dup pairs over a raw string column: (d1, d2, dist)
    with dist <= max_dist and d1 < d2, where dist counts substituted
    positions between EQUAL-LENGTH strings — the record-linkage /
    typo-dedup primitive (ids, SKUs, names); for token-level structure
    use simhash_pairs. NULL strings never pair.

    Scale path (the PassJoin banding idea): split each string into
    max_dist+1 contiguous segments. <= max_dist substitutions leave at
    least one segment untouched (pigeonhole), so candidates are an
    equi-join on (length, segment_idx, segment_text) and the verify is
    a zip_with mismatch count — pure codegen, no Python, run BEFORE the
    pair-dedup shuffle so failing candidates never reach the exchange.
    Join cost is sum(|bucket|^2) over segment buckets, not N^2.

    bucket_cap bounds the quadratic term when a segment is near-constant
    across the corpus (shared prefixes — 'Supplier#' — are the common
    case): oversized (length, band, segment) buckets are re-split by the
    NEXT segment, weakening pigeonhole to "agrees on this segment AND
    the next" inside those buckets only — dist-0 pairs always survive;
    the same documented trade as simhash_pairs/neardup_pairs_lsh."""
    n_bands = max_dist + 1
    length = F.length(F.col(col))

    def seg(b: int) -> F.Column:
        # band b covers chars [floor(b*len/n), floor((b+1)*len/n))
        lo = F.floor(length * b / n_bands)
        hi = F.floor(length * (b + 1) / n_bands)
        return F.substring(
            F.col(col), (lo + 1).cast("int"), (hi - lo).cast("int")
        )

    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                seg(b).alias("seg"),
                seg((b + 1) % n_bands).alias("nxt"),
            )
            for b in range(n_bands)
        ]
    )
    # persist the narrow pre-explode projection: the size census (when
    # capped) and both join sides read it, and each read would otherwise
    # re-scan the source; the cached row is id + string + its segment
    # tiling (~3-4x the string), fine for record-linkage-sized columns
    base = _pin(
        df.select(
            F.col(id_col).alias("_id"),
            F.col(col).alias("_s"),
            length.alias("_len"),
            bands.alias("_bands"),
        )
    )
    keyed = base.select(
        "_id",
        "_s",
        "_len",
        F.explode("_bands").alias("bk"),
    ).select(
        "_id",
        "_s",
        "_len",
        F.col("bk.band").alias("band"),
        F.col("bk.seg").alias("seg"),
        F.col("bk.nxt").alias("nxt"),
    )
    if bucket_cap is not None:
        # broadcast ONLY the oversized buckets: unlike simhash_pairs'
        # bounded 2^width key space, segment values here are unbounded
        # (the full sizes aggregate is ~corpus-sized for near-distinct
        # segments); the oversized list is <= n/bucket_cap rows by
        # construction, so it always fits a broadcast
        oversized = (
            keyed.groupBy("_len", "band", "seg")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > bucket_cap)
            .select("_len", "band", "seg", F.lit(True).alias("_over"))
        )
        keyed = keyed.join(
            F.broadcast(oversized), ["_len", "band", "seg"], "left"
        ).select(
            "_id",
            "_s",
            "_len",
            "band",
            # chr(30) never splits a segment boundary, so refined keys
            # stay disjoint from un-refined ones
            F.when(
                F.col("_over"),
                F.concat(F.col("seg"), F.lit(chr(30)), F.col("nxt")),
            )
            .otherwise(F.col("seg"))
            .alias("seg"),
        )
    a = keyed.select(
        F.col("_id").alias("d1"), F.col("_s").alias("s1"), "_len", "band", "seg"
    )
    b = keyed.select(
        F.col("_id").alias("d2"), F.col("_s").alias("s2"), "_len", "band", "seg"
    )
    mism = F.size(
        F.filter(
            F.zip_with(
                F.split(F.col("s1"), ""),
                F.split(F.col("s2"), ""),
                lambda x, y: x != y,
            ),
            lambda v: v,
        )
    ).cast("long")
    return (
        a.join(b, ["_len", "band", "seg"])
        .where(F.col("d1") < F.col("d2"))
        .withColumn("dist", mism)
        .where(F.col("dist") <= max_dist)
        .select("d1", "d2", "dist")
        .dropDuplicates(["d1", "d2"])
    )


def hamming_join(
    left: DataFrame,
    right: DataFrame,
    col: str = "text",
    max_dist: int = 2,
    id_col: str = "doc_id",
    bucket_cap: int | None = 10_000,
) -> DataFrame:
    """Cross-TABLE Hamming join: (left_id, right_id, dist) for every
    pair with dist <= max_dist between EQUAL-LENGTH strings of two
    different tables — the record-linkage join (new batch vs master
    list, supplier names vs vendor registry) that hamming_pairs'
    self-join cannot express. NULL strings never match.

    Same PassJoin banding as hamming_pairs: max_dist+1 contiguous
    segments, pigeonhole guarantees an untouched segment, candidates
    come from the (length, band, segment) equi-join, verification is a
    codegen zip_with mismatch count. The bucket-cap census runs over
    the RIGHT side only (the master/reference list — pass the larger
    or skew-prone side there) and the re-split decision applies to
    BOTH sides so matching pairs cannot be split apart (the
    minhash_dedup_pairs_cross discipline); dist-0 pairs always
    survive."""
    n_bands = max_dist + 1

    def keyed_side(df: DataFrame, side_id: str) -> DataFrame:
        length = F.length(F.col(col))

        def seg(b: int) -> F.Column:
            lo = F.floor(length * b / n_bands)
            hi = F.floor(length * (b + 1) / n_bands)
            return F.substring(
                F.col(col), (lo + 1).cast("int"), (hi - lo).cast("int")
            )

        bands = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    seg(b).alias("seg"),
                    seg((b + 1) % n_bands).alias("nxt"),
                )
                for b in range(n_bands)
            ]
        )
        return (
            df.select(
                F.col(id_col).alias(side_id),
                F.col(col).alias(f"_s_{side_id}"),
                length.alias("_len"),
                F.explode(bands).alias("bk"),
            )
            .select(
                side_id,
                f"_s_{side_id}",
                "_len",
                F.col("bk.band").alias("band"),
                F.col("bk.seg").alias("seg"),
                F.col("bk.nxt").alias("nxt"),
            )
        )

    kl = keyed_side(left, "left_id")
    kr = keyed_side(right, "right_id")
    if bucket_cap is not None:
        oversized = (
            kr.groupBy("_len", "band", "seg")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > bucket_cap)
            .select("_len", "band", "seg", F.lit(True).alias("_over"))
        )

        def cap(keyed: DataFrame, keep: list[str]) -> DataFrame:
            return keyed.join(
                F.broadcast(oversized), ["_len", "band", "seg"], "left"
            ).select(
                *keep,
                "_len",
                "band",
                F.when(
                    F.col("_over"),
                    F.concat(F.col("seg"), F.lit(chr(30)), F.col("nxt")),
                )
                .otherwise(F.col("seg"))
                .alias("seg"),
            )

        kl = cap(kl, ["left_id", "_s_left_id"])
        kr = cap(kr, ["right_id", "_s_right_id"])
    mism = F.size(
        F.filter(
            F.zip_with(
                F.split(F.col("_s_left_id"), ""),
                F.split(F.col("_s_right_id"), ""),
                lambda x, y: x != y,
            ),
            lambda v: v,
        )
    ).cast("long")
    return (
        kl.join(kr, ["_len", "band", "seg"])
        .withColumn("dist", mism)
        .where(F.col("dist") <= max_dist)
        .select("left_id", "right_id", "dist")
        .dropDuplicates(["left_id", "right_id"])
    )


def normalized_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup after text normalization (casefold + whitespace
    collapse + trim) — catches trivially-reformatted copies that byte
    dedup misses while staying a single hash groupBy. Output:
    (norm_key_hash, doc_id=min, dup_count)."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), "\\s+", " ")))
    return (
        df.select(F.col(id_col), F.xxhash64(norm).alias("norm_key"))
        .groupBy("norm_key")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )


def span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 10,
) -> DataFrame:
    """Global exact span-level dedup with document reassembly — the
    paragraph/line dedup pass of C4/CCNet, chunked into fixed
    span_tokens-token spans (the fixture corpus has no newlines). Every
    distinct span survives exactly once, at its globally-first location
    (min (doc_id, pos)); each document is rebuilt from its surviving
    spans in order. Output: (doc_id, n_spans, n_kept, new_text) —
    n_kept = 0 and new_text = '' for fully-deduplicated docs.

    Shape: span arrays are a narrow projection (transform over
    sequence, no explode until the spans are cut); the global
    first-owner is ONE hash groupBy on span text whose aggregate rows
    ARE the kept set (no join back to the exploded table); reassembly
    is one groupBy(doc) with sort_array(collect_list) — bounded by
    spans-per-doc — plus a join to the narrow per-doc span counts.
    Two shuffles total on span/doc hash; nothing quadratic."""
    toks = tokens(text_col)
    nspans = F.ceil(F.size(toks) / F.lit(span_tokens)).cast("int")
    spans = F.when(
        nspans > 0,
        F.transform(
            F.sequence(F.lit(0), nspans - 1),
            lambda i: F.array_join(
                F.slice(toks, i * span_tokens + 1, span_tokens), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = df.select(F.col(id_col), spans.alias("_spans"))
    counts = base.select(
        F.col(id_col), F.size("_spans").cast("long").alias("n_spans")
    )
    ex = base.select(F.col(id_col), F.posexplode("_spans").alias("pos", "span"))
    kept = ex.groupBy("span").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).alias("_o")
    )
    rebuilt = (
        kept.select(
            F.col("_o.d").alias(id_col), F.col("_o.p").alias("pos"), F.col("span")
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "span"))),
                    lambda s: s["span"],
                ),
                " ",
            ).alias("new_text"),
        )
    )
    return counts.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.col("n_spans"),
        F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
        F.coalesce(F.col("new_text"), F.lit("")).alias("new_text"),
    )


def editdist1_pairs(
    df: DataFrame,
    col: str,
    id_col: str,
) -> DataFrame:
    """All pairs at Levenshtein distance <= 1 (substitution, single
    insert/delete, or exact duplicate) via FastSS deletion
    neighborhoods — the record-linkage complement of hamming_pairs,
    which cannot see insertions/deletions.

    Banding: each string emits itself plus its |s| single-character
    deletion variants; every ed<=1 pair provably shares a variant
    (equal -> the string itself; deletion -> the shorter string is a
    variant of the longer; substitution at i -> both i-deletions are
    equal), so joining on the variant finds every true pair and the
    exact F.levenshtein verify (identical in DuckDB) removes false
    candidates — correctness never depends on the banding. Cost: the
    variant table is (len+1) rows per string — built for short keys
    (names, codes, URLs), not documents; a hot variant (a very common
    short string) concentrates its bucket, bounded by that value's
    frequency like any equi-join key, and AQE's skew split applies.
    Output: (id_a, id_b, a, b, dist), id_a < id_b."""
    s = F.col("_s")
    base = df.select(F.col(id_col).alias("_id"), F.col(col).alias("_s"))
    # deletion positions 0..len-1 plus -1 for "the string itself";
    # sequence(0, len-1) is invalid for empty strings, hence the guard
    positions = F.concat(
        F.array(F.lit(-1)),
        F.when(
            F.length(s) > 0, F.sequence(F.lit(0), F.length(s) - 1)
        ).otherwise(F.array().cast("array<int>")),
    )
    var = base.select(
        "_id",
        "_s",
        F.explode(positions).alias("_p"),
    ).select(
        "_id",
        "_s",
        F.when(F.col("_p") == -1, s)
        .otherwise(
            F.concat(
                F.substring(s, 1, F.col("_p")),
                F.substring(
                    s, F.col("_p") + 2, F.length(s) - F.col("_p") - 1
                ),
            )
        )
        .alias("_v"),
    )
    a = var.select(
        F.col("_id").alias("id_a"), F.col("_s").alias("a"), "_v"
    )
    b = var.select(
        F.col("_id").alias("id_b"), F.col("_s").alias("b"), "_v"
    )
    cand = (
        a.join(b, "_v")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "a", "b")
        .distinct()
    )
    return cand.select(
        "id_a",
        "id_b",
        "a",
        "b",
        F.levenshtein("a", "b").cast("long").alias("dist"),
    ).where(F.col("dist") <= 1)


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Near-SUBSET detection: pairs where the smaller document's
    shingles are >= threshold contained in the other's —
    |A ∩ B| / min(|A|, |B|). Jaccard misses these (a page quoted
    inside a 10x-longer page has tiny Jaccard but containment ~1),
    and they are exactly the quote/wrapper/aggregator duplicates a
    pre-training corpus wants collapsed toward the superset doc.

    Same scale shape as jaccard_pairs (shared-shingle inverted-index
    join, per-doc distinct shingles, sizes joined back on the pair
    keys — NOT force-broadcast: the size table is corpus-cardinality,
    code-review r11); only the final ratio differs. `max_df` is
    jaccard_pairs' boilerplate-shingle cap with the same one-sided
    precision contract — here a pruned shingle can only LOWER the
    computed intersection, so containment is under-counted, never
    invented (pairs can be missed, default None keeps exact
    semantics). Output: (d1, d2, containment, direction) with
    d1 < d2; direction says which side is the contained one
    ('d1'/'d2'/'equal' by shingle-set size)."""
    sh = shingles(df, id_col, text_col)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    join_sh = sh
    if max_df is not None:
        hot = _checkpoint(
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > max_df)
            .select("shingle")
        )
        n_hot = hot.count()
        if n_hot:
            import warnings

            warnings.warn(
                f"containment_pairs: max_df={max_df} pruned {n_hot} hot "
                "shingle(s) from the inverted index - containment is "
                "under-counted through them (pairs missed, never invented)",
                stacklevel=2,
            )
        join_sh = sh.join(hot, "shingle", "left_anti")
    a = join_sh.select(F.col(id_col).alias("d1"), "shingle")
    b = join_sh.select(F.col(id_col).alias("d2"), "shingle")
    common = (
        a.join(b, "shingle")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    na = sizes.select(F.col(id_col).alias("d1"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("d2"), F.col("n").alias("nb"))
    cont = F.col("c").cast("double") / F.least("na", "nb").cast("double")
    direction = (
        F.when(F.col("na") < F.col("nb"), F.lit("d1"))
        .when(F.col("nb") < F.col("na"), F.lit("d2"))
        .otherwise(F.lit("equal"))
    )
    # pair-keyed joins against the per-doc size table: AQE picks the
    # strategy; forcing broadcast of a corpus-cardinality table is
    # exactly the driver-memory bomb the 100 TB posture forbids
    return (
        common.join(na, "d1")
        .join(nb, "d2")
        .select("d1", "d2", cont.alias("containment"), direction.alias("direction"))
        .where(F.col("containment") >= threshold)
    )


def near_dup_cluster_keeper(
    df: DataFrame,
    quality_col: str,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The full near-dup dedup DECISION, end to end: MinHash+LSH pairs
    (the bucketed, capped scale path) -> connected components over the
    pair graph (near-duplication is transitive in practice: A~B~C must
    collapse to ONE kept doc, which pairwise keeper rules get wrong) ->
    one keeper per cluster by highest quality, ties to the smallest id.
    Docs in no pair form singleton clusters of themselves and are
    always kept. Output: (id, cluster_id, quality, n_members, kept) —
    the table a corpus-prep pipeline joins against to drop rows.

    Scale shape: the pair discovery is q20's banded join (no all-pairs
    anywhere); components iterate over the PAIR graph only (pair
    cardinality, not corpus); the keeper is one max_by per cluster;
    the corpus-sized side only ever does one aggregate-free join
    against the (tiny) clustered-doc map."""
    pairs = minhash_dedup_pairs(df, threshold, id_col, text_col)
    quality = df.select(
        F.col(id_col), F.col(quality_col).alias("quality")
    )
    return cluster_keeper_from_pairs(pairs, quality, id_col)


def cluster_keeper_from_pairs(
    pairs: DataFrame | None,
    quality: DataFrame,
    id_col: str,
    components: DataFrame | None = None,
) -> DataFrame:
    """The dedup DECISION shared by the lexical (near_dup_cluster_keeper)
    and semantic (similarity.semantic_dedup_keeper) capstones: duplicate
    pairs (d1, d2) -> connected components (transitive collapse) -> one
    keeper per cluster by highest NUMERIC `quality` (ranked as double,
    so fractional scores like quality_score's [0,1] shape rank
    correctly — code-review r11; the output column keeps the caller's
    dtype), ties to the smallest id — via min_by over (-quality, id),
    which orders correctly for ANY orderable id type, string/UUID ids
    included (the previous -id tie-break was numeric-only). Ids absent
    from every pair form singleton clusters and self-keep. `quality`
    must carry (id_col, quality). Output: (id, cluster_id, quality,
    n_members, kept).

    `components` (round 9, VERDICT r8 #2): pass an already-resolved
    (node, component) map — connected_components output over the SAME
    pair graph — and the labels are reused instead of re-propagated,
    so a pipeline computing keeper + dedup_report pays ONE discovery
    and ONE components pass for everything (the labels are
    checkpoint-backed, so sharing them across consumers reads blocks,
    not lineage). With components supplied, `pairs` is never read and
    may be None — exactly one of the two must be given."""
    if components is None and pairs is None:
        raise ValueError(
            "cluster_keeper_from_pairs: supply pairs (a (d1, d2) graph) "
            "or components (resolved labels) - got neither"
        )
    if components is not None:
        comp = components
    else:
        from .graph import connected_components

        comp = connected_components(pairs, "d1", "d2")
    labeled = quality.join(
        comp.withColumnRenamed("node", id_col), id_col, "left"
    ).withColumn("cluster_id", F.coalesce("component", F.col(id_col)))
    keeper = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.min_by(
            F.col(id_col),
            F.struct(
                # NULL quality must LOSE the election: a bare negation
                # yields NULL, and NULLs sort FIRST in Spark struct
                # ordering, so a missing score would beat every real one
                # (ADVICE r11 #1). Rank it +inf instead.
                F.coalesce(
                    -F.col("quality").cast("double"), F.lit(float("inf"))
                ).alias("_nq"),
                F.col(id_col).alias("_id"),
            ),
        ).alias("_keep"),
    )
    return (
        labeled.join(keeper, "cluster_id")
        .select(
            id_col,
            "cluster_id",
            "quality",
            "n_members",
            (F.col(id_col) == F.col("_keep")).cast("long").alias("kept"),
        )
    )


def cross_source_dup_matrix(
    df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Which sources duplicate into each other: near-dup pairs (the
    q20 banded MinHash+LSH scale path) rolled up to an unordered
    (source_a, source_b) matrix — the report that tells a crawl
    operator WHERE the duplication comes from (mirror sites, re-crawls,
    syndication) rather than just how much exists. Pair discovery is
    the existing bucketed join; the rollup adds two id->source joins
    (broadcastable: sources are few, the map is id-sized but the join
    is on the pair side) and one count aggregate. Output: (source_a,
    source_b, n_pairs), source_a <= source_b."""
    pairs = minhash_dedup_pairs(df, threshold, id_col, text_col)
    return _cross_source_rollup(df, pairs, id_col, source_col)


def _cross_source_rollup(
    df: DataFrame, pairs: DataFrame, id_col: str, source_col: str
) -> DataFrame:
    """The cross-source matrix given an existing pair graph — shared
    with dedup_report (one discovery pass)."""
    src = df.select(F.col(id_col), F.col(source_col))
    j = (
        pairs.join(
            src.select(
                F.col(id_col).alias("d1"), F.col(source_col).alias("_s1")
            ),
            "d1",
        )
        .join(
            src.select(
                F.col(id_col).alias("d2"), F.col(source_col).alias("_s2")
            ),
            "d2",
        )
    )
    return (
        j.groupBy(
            F.least("_s1", "_s2").alias("source_a"),
            F.greatest("_s1", "_s2").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def dedup_survivorship(
    df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Per-source impact table of the dedup DECISION: for every source,
    how many docs it contributes, how many sit in a near-dup cluster
    at all, and how many the canonical-keeper rule would actually drop
    — the "what does dedup cost each feed" report a mixture owner
    reads before signing off on a corpus cut (a source that loses 40%
    of its docs to clusters another source keeps is being silently
    down-weighted; q180's pair matrix shows WHERE duplication flows,
    this shows WHO pays). Clusters come from the exact-Jaccard pair
    graph (bit-identical to the MinHash LSH path at gate SF —
    test_minhash_equals_exact_jaccard) via the shared checkpointed
    connected components; the rollup is one left join of the
    doc->keeper map onto (id, source) and one count aggregate.
    drop_share divides exact bigints once. Output: (source, n_docs,
    dup_members, dropped, drop_share).

    `pairs` (VERDICT r8 #1, pattern: cluster_keeper_from_pairs): a
    production run supplies the (d1, d2) pair graph — typically
    minhash_dedup_pairs output, ideally checkpointed and shared
    with every other rollup (see dedup_report) — because the default
    exact-Jaccard discovery is quadratic in posting lists and exists
    as the gate-SF oracle, not the 100 TB plan."""
    from .graph import dedup_groups

    if pairs is None:
        pairs = jaccard_pairs(df, threshold, id_col, text_col)
    return _survivorship_rollup(df, dedup_groups(pairs), id_col, source_col)


def _survivorship_rollup(
    df: DataFrame, groups: DataFrame, id_col: str, source_col: str
) -> DataFrame:
    """The survivorship aggregate given an already-resolved (doc_id,
    keep_id) cluster map — shared by dedup_survivorship and
    dedup_report so the composed report reuses ONE components pass."""
    base = df.select(F.col(id_col).alias("doc_id"), F.col(source_col))
    j = base.join(groups, "doc_id", "left")
    return j.groupBy(source_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("keep_id").isNotNull().cast("long")).cast("long").alias(
            "dup_members"
        ),
        F.sum(
            (F.col("keep_id").isNotNull() & (F.col("keep_id") != F.col("doc_id")))
            .cast("long")
        ).cast("long").alias("dropped"),
    ).select(
        source_col,
        "n_docs",
        "dup_members",
        "dropped",
        (F.col("dropped").cast("double") / F.col("n_docs").cast("double")).alias(
            "drop_share"
        ),
    )


_CLUSTER_SIZE_BUCKETS = ((2, "2"), (5, "3-5"), (10, "6-10"))


def dup_cluster_histogram(
    df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup cluster-size histogram: how many duplicate clusters
    exist at size 2, 3-5, 6-10, >10, and how many docs they hold — the
    corpus-level "how pathological is our duplication" topline that
    decides whether dedup is a trim (all pairs) or a rescue (mega-
    clusters from template spam; the >10 bucket is the one that
    explodes on boilerplate-heavy crawls and the reason _cap_buckets
    exists). Same cluster derivation as dedup_survivorship; sizes are
    one count per keeper, the histogram one CASE + count over
    cluster-cardinality rows (tiny). Output: (size_bucket, n_clusters,
    n_docs).

    `pairs` as in dedup_survivorship: supply the LSH pair graph at
    scale; the exact-Jaccard default is the gate-SF oracle form."""
    from .graph import dedup_groups

    if pairs is None:
        pairs = jaccard_pairs(df, threshold, id_col, text_col)
    return _histogram_rollup(dedup_groups(pairs))


def _histogram_rollup(groups: DataFrame) -> DataFrame:
    """The cluster-size histogram given a resolved (doc_id, keep_id)
    map — shared with dedup_report (one components pass)."""
    return _histogram_from_sizes(
        groups.groupBy("keep_id").agg(
            F.count(F.lit(1)).cast("long").alias("_sz")
        )
    )


def _histogram_from_sizes(sizes: DataFrame) -> DataFrame:
    """The bucket half of the histogram, given per-cluster `_sz` rows —
    split out (round 16) so dedup_report can feed it the (keep_id)
    grouping-set rows of its fused aggregate instead of re-grouping the
    label table."""
    b = F.lit(">10")
    for ub, label in reversed(_CLUSTER_SIZE_BUCKETS):
        b = F.when(F.col("_sz") <= ub, F.lit(label)).otherwise(b)
    return (
        sizes.select(b.alias("size_bucket"), F.col("_sz"))
        .groupBy("size_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("_sz").cast("long").alias("n_docs"),
        )
    )


def dedup_report(
    df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    pairs: DataFrame | None = None,
    components: DataFrame | None = None,
) -> DataFrame:
    """EVERY dedup rollup from ONE discovery + ONE components pass
    (VERDICT r8 #1/#2): a real pipeline run wants the corpus topline,
    the per-source survivorship, the cluster-size histogram, and the
    cross-source matrix together before signing off a corpus cut —
    and until round 9 each of those queries re-derived its own pair
    graph and re-ran its own components loop (q159 4.5 s + q195 4.2 s
    + q196 + q180 at sf0.1; at 100 TB each re-derivation is a full
    corpus scan + LSH banding). Here the pair graph is discovered once
    (MinHash+LSH by default — the bucketed, capped scale path; pass
    `pairs` to reuse an existing graph), checkpointed so every
    consumer reads materialized pair-cardinality blocks, and resolved
    to clusters by ONE connected-components run whose labels are
    themselves checkpoint-backed; the three corpus-facing rollups and
    the topline then cost one aggregate each (the topline is summed
    from the source-cardinality survivorship table — zero extra corpus
    passes). Single long-format output so one job serves the whole
    report:
      (section, key_a, key_b, n1, n2, n3, share) with
      section='topline'      key_a='corpus'  n1=docs, n2=in-cluster,
                             n3=dropped, share=drop ratio
      section='survivorship' key_a=source    n1=n_docs, n2=dup_members,
                             n3=dropped, share=drop_share
      section='cluster_histogram' key_a=size_bucket n1=n_clusters,
                             n2=n_docs
      section='cross_source' key_a/key_b=source pair, n1=n_pairs
    Discovery-executes-once is accumulator-asserted
    (test_dedup_report_single_discovery_pass), components-runs-once is
    call-count-asserted in the same test.

    `components` (VERDICT r8 #2): pass connected_components output over
    the same pair graph to share the labels with a keeper computation
    (cluster_keeper_from_pairs takes the same argument) — keeper +
    full report then cost ONE discovery + ONE components pass total
    (test_keeper_and_report_share_one_components_pass). components
    REQUIRES pairs (the graph the labels were resolved from, already
    checkpointed by the caller — the cross-source section reads
    it): deriving a fresh graph here would silently run a second
    discovery AND could disagree with the supplied labels, so that
    combination raises instead."""
    if components is not None and pairs is None:
        raise ValueError(
            "dedup_report: components requires pairs (the checkpointed "
            "graph the labels came from) - a fresh discovery here would "
            "not match the supplied labels"
        )
    if pairs is None:
        pairs = minhash_dedup_pairs(df, threshold, id_col, text_col)
    if components is not None:
        # shared-pipeline mode: the caller already materialized the
        # pair graph (they had to, to run components + keeper off it),
        # so re-checkpointing here would only duplicate blocks
        groups = components.select(
            F.col("node").alias("doc_id"), F.col("component").alias("keep_id")
        )
    else:
        from .graph import dedup_groups

        # materialize the pair graph ONCE; components, the histogram
        # and the cross-source rollup all read these (tiny) blocks
        # instead of re-running the discovery pipeline. Checkpointed,
        # not pinned: the minhash discovery's analyzed tree is ~280
        # nodes (winnow's is 34), and a pin leaves that full tree inside
        # every consumer's logical plan, where the report union
        # re-analyzes it several times per run. The checkpoint
        # truncates the plan to an ExistingRDD leaf. It is LAZY and the
        # size-probe count() materializes it — one job does both (the
        # count cannot prune through the RDD barrier, so the blocks hold
        # every column), and the count is forwarded so
        # connected_components skips its own probe job and edge pin.
        pairs = _checkpoint(pairs.select("d1", "d2"), eager=False)
        n_pairs = pairs.count()  # materializes the checkpoint blocks
        groups = dedup_groups(pairs, n_edges=n_pairs)
    # ONE long-format aggregation pass for survivorship + topline +
    # cluster sizes: all three derive from the same (doc, source,
    # keep_id) left join, so a grouping-sets aggregate computes the
    # per-source survivorship rows ((source) set) and the per-cluster
    # cardinalities ((keep_id) set) in one corpus pass and one
    # exchange. The aggregate is (sources + clusters)-cardinality; its
    # eager checkpoint lets the three report branches below read
    # materialized rows. The topline still sums the survivorship rows
    # (not a () grouping set: on an empty corpus a global aggregate —
    # and the DuckDB oracle — emit one all-NULL topline row, which a
    # grouping set would not).
    base = df.select(F.col(id_col).alias("doc_id"), F.col(source_col))
    joined = base.join(groups, "doc_id", "left")
    ag = _checkpoint(
        joined.groupingSets(
            [[F.col(source_col)], [F.col("keep_id")]],
            F.col(source_col),
            F.col("keep_id"),
        )
        .agg(
            F.grouping_id().alias("_gid"),
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum(F.col("keep_id").isNotNull().cast("long"))
            .cast("long")
            .alias("_dup"),
            F.sum(
                (
                    F.col("keep_id").isNotNull()
                    & (F.col("keep_id") != F.col("doc_id"))
                ).cast("long")
            )
            .cast("long")
            .alias("_drop"),
        )
    )
    # grouping_id over (source, keep_id): (source) rows = 0b01, and
    # (keep_id) rows = 0b10 — a nulled grouping column is flag 1
    surv_rows = ag.where(F.col("_gid") == 1)
    size_rows = ag.where((F.col("_gid") == 2) & F.col("keep_id").isNotNull())
    nul_s = F.lit(None).cast("string")
    nul_l = F.lit(None).cast("long")
    nul_d = F.lit(None).cast("double")
    sec_surv = surv_rows.select(
        F.lit("survivorship").alias("section"),
        F.col(source_col).cast("string").alias("key_a"),
        nul_s.alias("key_b"),
        F.col("_n").alias("n1"),
        F.col("_dup").alias("n2"),
        F.col("_drop").alias("n3"),
        (F.col("_drop").cast("double") / F.col("_n").cast("double")).alias(
            "share"
        ),
    )
    sec_top = surv_rows.agg(
        F.sum("_n").cast("long").alias("n1"),
        F.sum("_dup").cast("long").alias("n2"),
        F.sum("_drop").cast("long").alias("n3"),
    ).select(
        F.lit("topline").alias("section"),
        F.lit("corpus").alias("key_a"),
        nul_s.alias("key_b"),
        "n1",
        "n2",
        "n3",
        (F.col("n3").cast("double") / F.col("n1").cast("double")).alias("share"),
    )
    sec_hist = _histogram_from_sizes(
        size_rows.select(F.col("_n").alias("_sz"))
    ).select(
        F.lit("cluster_histogram").alias("section"),
        F.col("size_bucket").alias("key_a"),
        nul_s.alias("key_b"),
        F.col("n_clusters").alias("n1"),
        F.col("n_docs").alias("n2"),
        nul_l.alias("n3"),
        nul_d.alias("share"),
    )
    sec_xs = _cross_source_rollup(df, pairs, id_col, source_col).select(
        F.lit("cross_source").alias("section"),
        F.col("source_a").cast("string").alias("key_a"),
        F.col("source_b").cast("string").alias("key_b"),
        F.col("n_pairs").alias("n1"),
        nul_l.alias("n2"),
        nul_l.alias("n3"),
        nul_d.alias("share"),
    )
    return (
        sec_top.unionByName(sec_surv)
        .unionByName(sec_hist)
        .unionByName(sec_xs)
    )


def dedup_decision_report(
    df: DataFrame,
    pairs: DataFrame,
    quality_col: str = "n_chars",
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """The full corpus-cut sign-off artifact: the aggregate
    dedup_report (topline / survivorship / histogram / cross-source)
    PLUS the per-document keeper DECISION, all from ONE supplied pair
    graph and ONE connected-components pass — the shape a production
    run actually executes before dropping data (reference analog: the
    row-level verify that accompanies compareDb's aggregate verdict,
    `cmd/compare.go:102-132`, lifted to corpus level). The pair source
    is the caller's choice — MinHash+LSH, SimHash, winnowing overlap,
    embedding RP-LSH all emit (d1, d2) — so the position-robust
    winnowing graph reaches the same decision path the lexical
    capstones use.

    The graph is materialized HERE, once: the components loop,
    the cross-source rollup, and nothing else re-derive the discovery
    pipeline (accumulator-asserted,
    test_decision_report_single_fingerprint_pass). Components run
    once; dedup_report and cluster_keeper_from_pairs both consume the
    same checkpoint-backed labels (the VERDICT r8 #2 sharing
    contract). Keeper rows append to the long format as
      section='keeper' key_a=doc_id key_b=cluster_id
                       n1=quality n2=n_members n3=kept
    so one job yields both the aggregate verdict and the row-level
    drop list."""
    from .graph import connected_components

    # Pinned, not checkpointed: identical logical plans share one
    # cache entry, so a session re-building the same report reuses the
    # materialized discovery. Safe HERE because winnow_overlap_pairs'
    # analyzed tree is ~34 nodes — unlike dedup_report's minhash tree
    # (~280 nodes), where a pin costs planning time and the checkpoint
    # stays. The count materializes the pin NOW, so the components
    # pass and the cross-source rollup cannot race an unmaterialized
    # cache into recomputing the discovery; passing it as n_edges
    # tells connected_components the graph is already materialized, so
    # it skips its own edge pin.
    pairs = _pin(pairs.select("d1", "d2"))
    n_pairs = pairs.count()
    comp = connected_components(pairs, "d1", "d2", n_edges=n_pairs)
    quality = df.select(
        F.col(id_col), F.col(quality_col).alias("quality")
    )
    keeper = cluster_keeper_from_pairs(None, quality, id_col, components=comp)
    report = dedup_report(
        df,
        id_col=id_col,
        text_col=text_col,
        source_col=source_col,
        pairs=pairs,
        components=comp,
    )
    sec_keeper = keeper.select(
        F.lit("keeper").alias("section"),
        F.col(id_col).cast("string").alias("key_a"),
        F.col("cluster_id").cast("string").alias("key_b"),
        F.col("quality").alias("n1"),
        F.col("n_members").alias("n2"),
        F.col("kept").alias("n3"),
        F.lit(None).cast("double").alias("share"),
    )
    return report.unionByName(sec_keeper)


def _run_streaks(
    df: DataFrame,
    pairs: DataFrame,
    k: int,
    min_run: int,
    id_col: str,
    text_col: str,
    max_gram_freq: int | None = 64,
) -> DataFrame:
    """Shared engine of shared_run_pairs / trim_shared_runs: the
    diagonal-streak construction over candidate pairs. Returns one row
    per maximal shared run clearing min_run:
    (d1, d2, _jmin, _run) — _jmin is the run's 0-based start token
    position in d2 (the d1 < d2 convention makes d2 the trim victim),
    _run the shared span length in TOKENS (streak + k - 1).

    `max_gram_freq` is the degenerate-doc defense (the max_df
    discipline): the match join costs occ(d1, h) x occ(d2, h) per
    gram hash, which is quadratic IN DOC LENGTH when one document
    repeats the same k-gram pathologically ('a a a ...' matched
    against its twin is m^2 rows). Grams repeating more than
    max_gram_freq times WITHIN one document are pruned from that
    document's side (eager census, warning when binding): a normal
    document never trips it (a 64-fold repeated 5-gram is degenerate
    repetition, repetition_stats' territory), runs through pruned
    grams can only be MISSED or split — never invented — and the
    per-hash join cost is bounded by max_gram_freq^2."""
    from pyspark.sql import Window

    from .textops import _ngrams

    # distinct() is load-bearing, not hygiene: a DUPLICATE candidate
    # pair row duplicates every gram match, which breaks the
    # _i - row_number() streak grouping (row_number increments twice
    # per _i, so a true run fragments below min_run and is silently
    # missed). Callers composing candidate sources (winnow + minhash
    # unions) hit this; the pair set is tiny, the shuffle is cheap.
    pairs = _pin(pairs.select("d1", "d2").distinct())
    # materialize NOW: docs_in_play's semi-join and the match join must
    # not race an unmaterialized cache into recomputing the discovery
    pairs.count()
    docs_in_play = (
        pairs.select(F.col("d1").alias(id_col))
        .unionByName(pairs.select(F.col("d2").alias(id_col)))
        .distinct()
    )
    base = (
        df.join(docs_in_play, id_col, "left_semi")
        .select(F.col(id_col), tokens(text_col).alias("toks"))
        .where(F.size("toks") >= k)
    )
    grams = base.select(
        F.col(id_col),
        F.posexplode(_ngrams(F.col("toks"), k)).alias("_pos", "_g"),
    ).select(id_col, "_pos", md5_token_hash(F.col("_g")).alias("_h"))
    # The jaccard_pairs/self_trim discipline: candidate-doc grams are
    # repartitioned by (doc, hash) ONCE and pinned — the degenerate-gram
    # census groupBy needs no further exchange, the g2 join side is
    # already partitioned on its (d2, _h) key, and the
    # tokenize+posexplode+md5 pipeline executes once instead of once
    # per consumer. Pin size is bounded by the
    # candidate docs' token count (the semi-join prune above), never
    # the corpus.
    grams = _pin(grams.repartition(F.col(id_col), F.col("_h")))
    if max_gram_freq is not None:
        hot = _checkpoint(
            grams.groupBy(id_col, "_h")
            .agg(F.count(F.lit(1)).alias("_c"))
            .where(F.col("_c") > max_gram_freq)
            .select(id_col, "_h")
        )
        n_hot = hot.count()
        if n_hot:
            import warnings

            warnings.warn(
                f"_run_streaks: max_gram_freq={max_gram_freq} pruned "
                f"{n_hot} degenerate (doc, gram) group(s) - runs through "
                "them may be missed or split (never invented)",
                stacklevel=3,
            )
        grams = grams.join(hot, [id_col, "_h"], "left_anti")
    g1 = grams.select(
        F.col(id_col).alias("d1"), F.col("_pos").alias("_i"), "_h"
    )
    g2 = grams.select(
        F.col(id_col).alias("d2"), F.col("_pos").alias("_j"), "_h"
    )
    matches = (
        pairs.join(g1, "d1")
        .join(g2, ["d2", "_h"])
        .select(
            "d1",
            "d2",
            "_i",
            "_j",
            (F.col("_i") - F.col("_j")).alias("_diag"),
        )
    )
    w_diag = Window.partitionBy("d1", "d2", "_diag").orderBy("_i")
    return (
        matches.withColumn("_grp", F.col("_i") - F.row_number().over(w_diag))
        .groupBy("d1", "d2", "_diag", "_grp")
        .agg(
            F.min("_j").alias("_jmin"),
            (F.count(F.lit(1)) + F.lit(k - 1)).cast("long").alias("_run"),
        )
        .where(F.col("_run") >= min_run)
    )


def shared_run_pairs(
    df: DataFrame,
    pairs: DataFrame,
    k: int = 5,
    min_run: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    limit: int | None = None,
    n_salts: int = 32,
    max_gram_freq: int | None = 64,
) -> DataFrame:
    """EXACT longest shared token run per candidate pair — the
    Lee et al. "Deduplicating Training Data Makes Language Models
    Better" exact-substring criterion (drop/trim any >= N-token run
    shared verbatim between documents), computed distributed: where
    MinHash estimates set overlap and winnowing guarantees detection,
    this measures the actual maximal contiguous span, the number the
    >=N-token rule needs.

    Diagonal-streak construction: a shared k-gram at positions (i, j)
    of (d1, d2) extends a shared run along the diagonal i - j, and
    within one diagonal matched i values are unique, so a maximal run
    is a streak of consecutive i's — group matches by (pair, diag,
    i - row_number) and the longest streak s gives a shared span of
    s + k - 1 tokens. All exact integers; gram hashes ride
    md5_token_hash so any engine replays bit-for-bit.

    `pairs` is REQUIRED (any (d1, d2) candidate source — winnowing is
    the natural one: its guarantee means no >= w+k-1-token run escapes
    the candidate set, so composing winnow -> shared_run_pairs is
    exact for min_run >= w+k-1 at O(candidates) cost, never O(n^2)).
    Scale shape: the corpus side is semi-join-pruned to docs in
    `pairs` BEFORE gram explosion; matches join on (doc, hash) keyed
    by the pair; the streak window partitions by (pair, diagonal) —
    state bounded by doc length, never by corpus size. Output:
    (d1, d2, longest_run, n_runs) with longest_run >= min_run tokens;
    n_runs counts maximal runs clearing min_run."""
    from pyspark.sql import Window

    streaks = _run_streaks(
        df, pairs, k, min_run, id_col, text_col, max_gram_freq
    )
    out = streaks.groupBy("d1", "d2").agg(
        F.max("_run").alias("longest_run"),
        F.count(F.lit(1)).cast("long").alias("n_runs"),
    )
    if limit is None:
        return out
    w_pre = Window.partitionBy("_salt").orderBy(
        F.desc("longest_run"), F.col("d1"), F.col("d2")
    )
    w_fin = Window.orderBy(F.desc("longest_run"), F.col("d1"), F.col("d2"))
    return (
        out.withColumn("_salt", F.pmod(F.xxhash64("d1"), F.lit(n_salts)))
        .withColumn("_r", F.row_number().over(w_pre))
        .where(F.col("_r") <= limit)
        .withColumn("_rn", F.row_number().over(w_fin))
        .where(F.col("_rn") <= limit)
        .select("d1", "d2", "longest_run", "n_runs")
    )


def trim_shared_runs(
    df: DataFrame,
    pairs: DataFrame,
    k: int = 5,
    min_run: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_gram_freq: int | None = 64,
    until_fixpoint: bool = False,
    max_passes: int = 5,
    pass_stats: list | None = None,
) -> DataFrame:
    """The DECISION half of the Lee et al. exact-substring rule:
    shared_run_pairs measures the duplicated spans, this CUTS them —
    every maximal shared run >= min_run tokens is removed from the
    HIGHER-id copy (d1 < d2, so d1 owns the text; across a duplicate
    chain each span survives in the smallest id that carries it,
    pairwise — the same occurrence-level semantics as the paper's
    cut-all-but-one), overlapping victim spans are merged with the
    classic island construction (cumulative max of span end over a
    start-ordered window), and each trimmed document is rebuilt from
    its surviving token positions in order.

    Scale shape: _run_streaks' pair-keyed engine (semi-join-pruned
    grams, diagonal streaks), then ONE window over victim spans
    (partitioned by doc — bounded by spans-per-doc, never corpus-
    wide), spans collected to ONE array row per victim doc
    (spans-per-doc-bounded) and joined back LEFT so untouched docs
    pass through with n_trimmed = 0; the rebuild is an array-side
    filter over token positions against the (tiny) merged-span array
    — no explode of the corpus. Output: (id, n_tokens, n_trimmed,
    new_text) for EVERY input document.

    `until_fixpoint` (VERDICT r11 #3): re-run the pass on the rebuilt
    corpus until no pass cuts a token (capped at max_passes, warned) —
    the single pass is not guaranteed idempotent because a cut can
    splice a new qualifying run. The pair-keyed form re-runs the WHOLE
    corpus each pass (a cut in d1 can create a run shared with an
    untouched d2); `pairs` is re-used as given."""
    if until_fixpoint:
        return _trim_until_fixpoint(
            df,
            lambda d: trim_shared_runs(
                d, pairs, k, min_run, id_col, text_col, max_gram_freq
            ),
            id_col,
            text_col,
            max_passes,
            per_doc=False,
            pass_stats=pass_stats,
        )
    runs = _run_streaks(
        df, pairs, k, min_run, id_col, text_col, max_gram_freq
    )
    spans = runs.select(
        F.col("d2").alias(id_col),
        F.col("_jmin").cast("long").alias("_s"),
        (F.col("_jmin") + F.col("_run") - 1).cast("long").alias("_e"),
    )
    return _trim_by_spans(df, spans, id_col, text_col)


def _merge_islands(spans: DataFrame, id_col: str) -> DataFrame:
    """Classic island merge over per-doc inclusive token ranges
    (id, _s, _e): a span starts a new island iff it begins past the
    running max end of everything before it (start-ordered). ONE
    window partitioned by doc — bounded by spans-per-doc, never
    corpus-wide. Shared by _trim_by_spans and benchmark_coverage.
    Output: (id, _s, _e), one row per merged island."""
    from pyspark.sql import Window

    w_ord = Window.partitionBy(id_col).orderBy("_s", "_e")
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    return (
        spans.withColumn("_pmax", F.max("_e").over(w_prev))
        .withColumn(
            "_new",
            (F.col("_pmax").isNull() | (F.col("_s") > F.col("_pmax"))).cast(
                "int"
            ),
        )
        .withColumn("_isl", F.sum("_new").over(w_ord))
        .groupBy(id_col, "_isl")
        .agg(F.min("_s").alias("_s"), F.max("_e").alias("_e"))
        .select(id_col, "_s", "_e")
    )


def _trim_by_spans(
    df: DataFrame, spans: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Shared decision engine of trim_shared_runs / decontaminate_trim:
    island-merge the victim spans (0-based inclusive token ranges per
    doc) and rebuild every input document from its surviving token
    positions. One window partitioned by doc (bounded by
    spans-per-doc), spans collected to ONE array row per victim doc,
    LEFT-joined so untouched docs pass through with n_trimmed = 0; the
    rebuild is an array-side filter — no corpus explode. Output:
    (id, n_tokens, n_trimmed, new_text) for EVERY row of df."""
    cuts = _merge_islands(spans, id_col).groupBy(id_col).agg(
        F.collect_list(F.struct("_s", "_e")).alias("_cuts")
    )
    # NULL text must honor the 'EVERY input document' contract as an
    # empty doc (n_tokens=0, n_trimmed=0, new_text='') — tokens(NULL)
    # is NULL and would cascade NULLs through the whole output row
    # (code-review r11); crawled corpora carry NULL text routinely
    toks = F.coalesce(tokens(text_col), F.array().cast("array<string>"))
    out = (
        df.select(F.col(id_col), toks.alias("_t"))
        .join(cuts, id_col, "left")
        .select(
            F.col(id_col),
            F.size("_t").cast("long").alias("n_tokens"),
            F.col("_t"),
            F.coalesce(
                F.col("_cuts"),
                F.array().cast("array<struct<_s:bigint,_e:bigint>>"),
            ).alias("_cuts"),
        )
        .select(
            F.col(id_col),
            "n_tokens",
            F.when(F.size("_t") == 0, F.array().cast("array<string>"))
            .otherwise(
                F.transform(
                    F.filter(
                        F.zip_with(
                            F.col("_t"),
                            F.sequence(F.lit(0), F.size("_t") - 1),
                            lambda t, p: F.struct(t.alias("t"), p.alias("p")),
                        ),
                        lambda s: ~F.exists(
                            F.col("_cuts"),
                            lambda c: (s["p"] >= c["_s"])
                            & (s["p"] <= c["_e"]),
                        ),
                    ),
                    lambda s: s["t"],
                )
            )
            .alias("_keep"),
        )
        .select(
            F.col(id_col),
            "n_tokens",
            (F.col("n_tokens") - F.size("_keep")).cast("long").alias(
                "n_trimmed"
            ),
            F.array_join(F.col("_keep"), " ").alias("new_text"),
        )
    )
    return out


def _trim_until_fixpoint(
    df: DataFrame,
    trim_once,
    id_col: str,
    text_col: str,
    max_passes: int,
    per_doc: bool,
    pass_stats: list | None = None,
) -> DataFrame:
    """Fixpoint driver shared by the trim family (VERDICT r11 #3): the
    single-pass semantics are the papers', but cuts are computed
    against the ORIGINAL token stream, so tokens spliced together by a
    cut can form a NEW qualifying span — a production pipeline wants
    `until_fixpoint=True`. Re-runs `trim_once` on the rebuilt corpus
    until a pass cuts zero tokens or max_passes is hit (warned).

    `per_doc=True` (self-trim, decontaminate-trim): a doc's spans
    depend only on its OWN text (plus a fixed benchmark side), so a
    doc a pass left untouched is final — later passes re-trim only the
    touched subset, which shrinks geometrically in practice. The
    pair-keyed trim (trim_shared_runs) must re-run the whole corpus
    (`per_doc=False`): a cut in d1 can splice a new run shared with an
    otherwise-untouched d2.

    Each pass is checkpointed (eager): the loop's driver-side
    convergence check would otherwise replay the whole lineage every
    iteration, and the checkpoint bounds the plan for the next pass.
    Superseded pass checkpoints are released immediately (_release —
    the blocks here are CORPUS-sized, id + full rebuilt text per doc,
    so leaving up to 2 block sets per pass to the lazy ContextCleaner
    risks executor storage at scale). Output contract is the family's: n_tokens =
    ORIGINAL token count, n_trimmed = TOTAL tokens cut across all
    passes, new_text = final.

    `pass_stats` (VERDICT r12 #7): pass a list and the driver appends
    the tokens-cut total of each CONVERGENCE-CHECKED pass (ending with
    the 0 that proves the fixpoint, or the residual if max_passes was
    hit) — the sf1 probe reads len()/values to put n_passes and
    per-pass cost at a measured decade on record. Driver-side only;
    the counts come from the aggs the loop already runs."""
    acc = _checkpoint(trim_once(df))
    cur = acc
    passes = 1
    while passes < max_passes:
        pass_trims = (
            cur.agg(F.sum("n_trimmed")).first()[0] or 0
        )
        if pass_stats is not None:
            pass_stats.append(pass_trims)
        if pass_trims == 0:
            return acc
        redo_in = (acc if not per_doc else acc.join(
            cur.where(F.col("n_trimmed") > 0).select(id_col),
            id_col,
        )).select(F.col(id_col), F.col("new_text").alias(text_col))
        prev_acc, prev_cur = acc, cur
        cur = _checkpoint(trim_once(redo_in))
        acc = _checkpoint(
            acc.join(
                cur.select(
                    F.col(id_col),
                    F.col("n_trimmed").alias("_nt2"),
                    F.col("new_text").alias("_txt2"),
                ),
                id_col,
                "left",
            )
            .select(
                F.col(id_col),
                "n_tokens",
                (
                    F.col("n_trimmed") + F.coalesce("_nt2", F.lit(0))
                ).cast("long").alias("n_trimmed"),
                F.coalesce("_txt2", "new_text").alias("new_text"),
            )
        )
        # the new acc/cur are independently materialized; the previous
        # pass's blocks are never read again (pass 1: prev_acc IS
        # prev_cur, released once)
        _release(prev_acc)
        if prev_cur is not prev_acc:
            _release(prev_cur)
        passes += 1
    last = cur.agg(F.sum("n_trimmed")).first()[0] or 0
    if pass_stats is not None:
        pass_stats.append(last)
    if last:
        import warnings

        warnings.warn(
            f"trim fixpoint not reached in max_passes={max_passes} "
            f"(last pass still cut {last} token(s)) - result is the "
            "capped iterate",
            stacklevel=3,
        )
    return acc


def decontaminate_runs(
    docs: DataFrame,
    bench: DataFrame,
    k: int = 5,
    w: int = 8,
    min_shared: int = 1,
    min_run: int = 12,
    id_col: str = "doc_id",
    bench_id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
    max_gram_freq: int | None = 64,
) -> DataFrame:
    """Exact-span DECONTAMINATION — the production benchmark-leak rule
    (Brown et al. GPT-3 appendix / Lee et al.): flag every training
    document sharing a >= min_run-token VERBATIM run with any
    benchmark document. Where contamination_flags tests n-gram
    containment (any single 8-gram), this measures actual maximal
    spans, so the threshold is in tokens-of-verbatim-overlap — the
    number a removal policy is written against.

    Cross-table composition of the winnowing + diagonal-streak
    engine: fingerprints computed per side, candidates from the CROSS
    fp join only (never bench x bench or train x train), then
    shared_run_pairs' _run_streaks over the two corpora with
    namespaced ids. With min_shared=1 the winnow guarantee makes
    detection EXACT for min_run >= w+k-1: any qualifying run shares
    at least one fingerprint, so no contaminated pair can escape the
    candidate set. `max_df` prunes boilerplate fingerprints from the
    join (df censused over BOTH sides; precision-1.0 semantics — only
    whole pairs hiding entirely in boilerplate can be missed, with a
    warning); `max_gram_freq` is the degenerate-doc guard.

    Scale shape: the benchmark side is the small one by construction
    (test sets are thousands of docs, the corpus billions) — its
    fingerprint table broadcasts, the training side streams through
    one fp join; the run verification is pair-keyed as in X201.
    Output: (bench_id, doc_id-named train id, longest_run, n_runs),
    one row per contaminated (benchmark doc, training doc) pair. The
    id columns come back in each input's ORIGINAL dtype (captured
    from the schemas before the 'b:'/'t:' namespacing round-trips
    them through string) — UUID/string keys survive, not just
    integral ids."""
    bench_id_type = bench.schema[bench_id_col].dataType
    train_id_type = docs.schema[id_col].dataType
    runs, _b, _t = _decontaminate_streaks(
        docs, bench, k, w, min_shared, min_run, id_col, bench_id_col,
        text_col, max_df, max_gram_freq,
    )
    out = runs.groupBy("d1", "d2").agg(
        F.max("_run").alias("longest_run"),
        F.count(F.lit(1)).cast("long").alias("n_runs"),
    )
    return out.select(
        F.substring("d1", 3, 2**31 - 1).cast(bench_id_type).alias("bench_id"),
        F.substring("d2", 3, 2**31 - 1).cast(train_id_type).alias(id_col),
        "longest_run",
        "n_runs",
    )


def self_trim_repeats(
    df: DataFrame,
    k: int = 5,
    min_run: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_gram_freq: int | None = 64,
    until_fixpoint: bool = False,
    max_passes: int = 5,
    pass_stats: list | None = None,
) -> DataFrame:
    """WITHIN-document exact-substring trim — the intra-doc half of the
    Lee et al. rule (their suffix-array dedup removes repeats inside a
    document as well as across documents): every later occurrence of a
    span of >= min_run tokens that already appeared EARLIER in the
    same document is cut, the first occurrence kept, the document
    rebuilt. Completes the measure/act pair with X33
    (textops.repetition_stats measures dup-token/dup-2gram fractions;
    this removes the repetition), mirroring X201/X202 and X203/X204.

    Same diagonal-streak construction as shared_run_pairs, applied to
    a document against ITSELF: a k-gram occurring at positions i < j
    extends the diagonal j - i, maximal streaks of consecutive j's are
    maximal repeated runs, and the VICTIM span is always the later
    copy [jmin, jmin + run - 1] — so across an n-fold repeat every
    copy after the first is covered (each later copy pairs with the
    first), periodic repetition ('x y x y x y ...') collapses to one
    period, and overlapping victim spans island-merge in
    _trim_by_spans. No pair discovery stage is needed: the candidate
    set is each doc against itself, one (doc, hash) self-join keyed by
    the doc — embarrassingly parallel across the corpus, zero
    cross-doc shuffle beyond the per-doc groupBys.

    `max_gram_freq` keeps the family's degenerate-doc discipline: the
    self-join costs C(occ, 2) per (doc, gram), so pathological
    repetition ('spam' x 3000) is pruned with a warning rather than
    joined quadratically — by design such docs are repetition_stats'
    territory (flag and drop wholesale), not the span trimmer's; runs
    through pruned grams are only ever MISSED, never invented.

    Single-pass semantics (the paper's): cuts are computed against the
    ORIGINAL token stream, so tokens spliced together by a cut can in
    principle form a new repeated span — the pass is not guaranteed
    idempotent (on the fixture corpora one pass reaches it, asserted
    in the prep CLI test). `until_fixpoint` (VERDICT r11 #3) re-runs
    until a pass cuts nothing (capped at max_passes, warned); being
    per-doc, later passes re-trim ONLY the docs the previous pass
    touched. Output: (id, n_tokens, n_trimmed, new_text) for EVERY
    input document."""
    if until_fixpoint:
        return _trim_until_fixpoint(
            df,
            lambda d: self_trim_repeats(
                d, k, min_run, id_col, text_col, max_gram_freq
            ),
            id_col,
            text_col,
            max_passes,
            per_doc=True,
            pass_stats=pass_stats,
        )
    from pyspark.sql import Window

    from .textops import _ngrams

    base = df.select(
        F.col(id_col), tokens(text_col).alias("toks")
    ).where(F.size("toks") >= k)
    grams = base.select(
        F.col(id_col),
        F.posexplode(_ngrams(F.col("toks"), k)).alias("_pos", "_g"),
    ).select(id_col, "_pos", md5_token_hash(F.col("_g")).alias("_h"))
    # The jaccard_pairs discipline: the gram table is repartitioned by
    # the self-join key ONCE and pinned — the (doc, hash) census
    # groupBy and both join sides consume the same partitioning, so the
    # gram stream crosses one exchange instead of three, and the
    # tokenize+posexplode+md5 pipeline executes once, not 3x. (The
    # streak window re-keys on (doc, diag) — match-cardinality rows,
    # far fewer than grams.)
    grams = _pin(grams.repartition(F.col(id_col), F.col("_h")))
    if max_gram_freq is not None:
        hot = _checkpoint(
            grams.groupBy(id_col, "_h")
            .agg(F.count(F.lit(1)).alias("_c"))
            .where(F.col("_c") > max_gram_freq)
            .select(id_col, "_h")
        )
        n_hot = hot.count()
        if n_hot:
            import warnings

            warnings.warn(
                f"self_trim_repeats: max_gram_freq={max_gram_freq} pruned "
                f"{n_hot} degenerate (doc, gram) group(s) - repeats through "
                "them may be missed (never invented); such docs are "
                "repetition_stats' drop-wholesale territory",
                stacklevel=2,
            )
        grams = grams.join(hot, [id_col, "_h"], "left_anti")
    g1 = grams.select(F.col(id_col), F.col("_pos").alias("_i"), "_h")
    g2 = grams.select(F.col(id_col), F.col("_pos").alias("_j"), "_h")
    matches = (
        g1.join(g2, [id_col, "_h"])
        .where(F.col("_i") < F.col("_j"))
        .select(id_col, "_j", (F.col("_j") - F.col("_i")).alias("_diag"))
    )
    w_diag = Window.partitionBy(id_col, "_diag").orderBy("_j")
    spans = (
        matches.withColumn("_grp", F.col("_j") - F.row_number().over(w_diag))
        .groupBy(id_col, "_diag", "_grp")
        .agg(
            F.min("_j").alias("_jmin"),
            (F.count(F.lit(1)) + F.lit(k - 1)).cast("long").alias("_run"),
        )
        .where(F.col("_run") >= min_run)
        .select(
            F.col(id_col),
            F.col("_jmin").cast("long").alias("_s"),
            (F.col("_jmin") + F.col("_run") - 1).cast("long").alias("_e"),
        )
    )
    return _trim_by_spans(df, spans, id_col, text_col)


def _decontaminate_streaks(
    docs: DataFrame,
    bench: DataFrame,
    k: int,
    w: int,
    min_shared: int,
    min_run: int,
    id_col: str,
    bench_id_col: str,
    text_col: str,
    max_df: int | None,
    max_gram_freq: int | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared discovery engine of decontaminate_runs /
    decontaminate_trim: namespace the two corpora ('b:'/'t:' so id
    spaces can overlap), winnow-fingerprint each side, candidates from
    the CROSS fp join only (bench side broadcast — test sets are
    thousands of docs, the corpus billions), then the diagonal-streak
    run verification. Returns (runs, b, t): runs has (d1=bench _nid,
    d2=train _nid, _jmin, _run) with _jmin 0-based in the TRAIN doc;
    b/t are the namespaced inputs for any follow-on per-doc pass."""
    b = bench.select(
        F.concat(F.lit("b:"), F.col(bench_id_col).cast("string")).alias(
            "_nid"
        ),
        F.col(text_col),
    )
    t = docs.select(
        F.concat(F.lit("t:"), F.col(id_col).cast("string")).alias("_nid"),
        F.col(text_col),
    )
    fb = winnow_fingerprints(b, k, w, "_nid", text_col)
    ft = winnow_fingerprints(t, k, w, "_nid", text_col)
    if max_df is not None:
        hot = _checkpoint(
            fb.unionByName(ft)
            .groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > max_df)
            .select("fp")
        )
        n_hot = hot.count()
        if n_hot:
            import warnings

            warnings.warn(
                f"decontaminate_runs: max_df={max_df} pruned {n_hot} hot "
                "fingerprint(s) - contaminated pairs hiding entirely in "
                "boilerplate may be missed",
                stacklevel=3,
            )
        fb = fb.join(hot, "fp", "left_anti")
        ft = ft.join(hot, "fp", "left_anti")
    pairs = (
        F.broadcast(fb.select(F.col("_nid").alias("d1"), "fp"))
        .join(ft.select(F.col("_nid").alias("d2"), "fp"), "fp")
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("_ns"))
        .where(F.col("_ns") >= min_shared)
        .select("d1", "d2")
    )
    runs = _run_streaks(
        b.unionByName(t), pairs, k, min_run, "_nid", text_col, max_gram_freq
    )
    return runs, b, t


def decontaminate_trim(
    docs: DataFrame,
    bench: DataFrame,
    k: int = 5,
    w: int = 8,
    min_shared: int = 1,
    min_run: int = 12,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    max_df: int | None = None,
    max_gram_freq: int | None = 64,
    until_fixpoint: bool = False,
    max_passes: int = 5,
    pass_stats: list | None = None,
) -> DataFrame:
    """The REMOVAL half of decontamination — where decontaminate_runs
    FLAGS every (benchmark, training) pair sharing a >= min_run-token
    verbatim run, this CUTS those spans from the TRAINING documents
    and keeps the rest of each document: the surgical alternative to
    dropping flagged docs wholesale (Brown et al.'s GPT-3 appendix
    removes overlapping WINDOWS, not whole documents, for exactly this
    reason — a 10k-token doc quoting one benchmark question is 99%
    good training data). The benchmark side is never modified.

    Composition of the two proven engines: _decontaminate_streaks
    (winnow candidates, cross-only, bench side broadcast; detection
    EXACT for min_run >= w+k-1 at min_shared=1) finds the maximal
    contaminated spans in each training doc; _trim_by_spans
    (trim_shared_runs' island-merge + array-side rebuild) cuts them.
    Spans from DIFFERENT benchmark docs merge into islands on the
    victim, so overlapping quotes never double-trim.

    Scale shape: everything pair-keyed or per-doc-bounded as in the
    parents; the per-doc span arrays are bounded by contamination per
    doc, never corpus size. Output: (id, n_tokens, n_trimmed,
    new_text) for EVERY training document — untouched docs pass
    through with n_trimmed = 0 and their text rebuilt verbatim
    (single-space token join, the tokenizer's normal form). Ids come
    back in the input's original dtype.

    `until_fixpoint` (VERDICT r11 #3): a cut can splice together a new
    >= min_run-token benchmark span; re-run until a pass cuts nothing
    (capped at max_passes, warned). The benchmark side is FIXED and a
    doc's spans depend only on its own text, so later passes re-trim
    ONLY the docs the previous pass touched."""
    if until_fixpoint:
        return _trim_until_fixpoint(
            docs,
            lambda d: decontaminate_trim(
                d, bench, k, w, min_shared, min_run, id_col, text_col,
                bench_id_col, max_df, max_gram_freq,
            ),
            id_col,
            text_col,
            max_passes,
            per_doc=True,
            pass_stats=pass_stats,
        )
    train_id_type = docs.schema[id_col].dataType
    runs, _b, t = _decontaminate_streaks(
        docs, bench, k, w, min_shared, min_run, id_col, bench_id_col,
        text_col, max_df, max_gram_freq,
    )
    spans = runs.select(
        F.col("d2").alias("_nid"),
        F.col("_jmin").cast("long").alias("_s"),
        (F.col("_jmin") + F.col("_run") - 1).cast("long").alias("_e"),
    )
    out = _trim_by_spans(t, spans, "_nid", text_col)
    return out.select(
        F.substring("_nid", 3, 2**31 - 1).cast(train_id_type).alias(id_col),
        "n_tokens",
        "n_trimmed",
        "new_text",
    )


def benchmark_coverage(
    docs: DataFrame,
    bench: DataFrame,
    k: int = 5,
    w: int = 8,
    min_shared: int = 1,
    min_run: int = 12,
    id_col: str = "doc_id",
    bench_id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
    max_gram_freq: int | None = 64,
) -> DataFrame:
    """Per-BENCHMARK-document contamination report (X206) — the view
    an eval owner needs: decontaminate_runs answers "which training
    docs are dirty"; this answers "how burned is each benchmark item".
    For every benchmark document: how many training documents share a
    >= min_run-token verbatim run with it, the longest such run, and
    the fraction of ITS OWN tokens covered by the union of all shared
    runs (spans from different training docs island-merged, so
    overlapping leaks never double-count). coverage ~ 1.0 means the
    item is wholesale-memorizable from the corpus; a low coverage with
    many partners means a famous quote, not a leak.

    Same discovery engine as decontaminate_runs (_decontaminate_
    streaks: winnow candidates, cross-join only, benchmark side
    broadcast — detection EXACT for min_run >= w+k-1 at min_shared=1);
    the bench-side span of each run is recovered from the diagonal
    (_jmin is the run's start in the TRAIN doc; start in the bench doc
    is _jmin + _diag), merged per bench doc by _merge_islands — ONE
    window bounded by runs-per-bench-doc, never corpus-wide. Output:
    (bench_id, n_tokens, n_train_docs, longest_run, covered_tokens,
    coverage) for EVERY benchmark document, clean ones at zero."""
    bench_id_type = bench.schema[bench_id_col].dataType
    runs, b, _t = _decontaminate_streaks(
        docs, bench, k, w, min_shared, min_run, id_col, bench_id_col,
        text_col, max_df, max_gram_freq,
    )
    # runs feeds THREE consumers (per-pair stats, bench-side spans,
    # coverage) — pinned so the whole streak pipeline executes once,
    # not once per consumer (run rows are span-cardinality, tiny at
    # any scale)
    runs = _pin(runs)
    per_pair = runs.groupBy("d1", "d2").agg(F.max("_run").alias("_lr"))
    stats = per_pair.groupBy("d1").agg(
        F.count(F.lit(1)).cast("long").alias("n_train_docs"),
        F.max("_lr").cast("long").alias("longest_run"),
    )
    spans = runs.select(
        F.col("d1").alias("_nid"),
        (F.col("_jmin") + F.col("_diag")).cast("long").alias("_s"),
        (F.col("_jmin") + F.col("_diag") + F.col("_run") - 1)
        .cast("long")
        .alias("_e"),
    )
    cov = _merge_islands(spans, "_nid").groupBy("_nid").agg(
        F.sum(F.col("_e") - F.col("_s") + 1).cast("long").alias(
            "covered_tokens"
        )
    )
    base = b.select(
        "_nid",
        F.size(
            F.coalesce(tokens(text_col), F.array().cast("array<string>"))
        )
        .cast("long")
        .alias("n_tokens"),
    )
    return (
        base.join(stats.withColumnRenamed("d1", "_nid"), "_nid", "left")
        .join(cov, "_nid", "left")
        .select(
            F.substring("_nid", 3, 2**31 - 1)
            .cast(bench_id_type)
            .alias("bench_id"),
            "n_tokens",
            F.coalesce("n_train_docs", F.lit(0)).cast("long").alias(
                "n_train_docs"
            ),
            F.coalesce("longest_run", F.lit(0)).cast("long").alias(
                "longest_run"
            ),
            F.coalesce("covered_tokens", F.lit(0)).cast("long").alias(
                "covered_tokens"
            ),
            (
                F.coalesce("covered_tokens", F.lit(0))
                / F.greatest(F.col("n_tokens"), F.lit(1))
            )
            .cast("double")
            .alias("coverage"),
        )
    )


def soft_dedup(
    pairs: DataFrame | None,
    df: DataFrame,
    id_col: str = "doc_id",
    alpha: float = 0.5,
    method: str = "xxhash64",
    salt: str = "softdedup",
    components: DataFrame | None = None,
) -> DataFrame:
    """SOFT deduplication (X208): instead of collapsing every duplicate
    cluster to one keeper (cluster_keeper_from_pairs), keep
    ceil(n^alpha) members of each n-member cluster — alpha=0 is hard
    dedup, alpha=1 keeps everything, 0.5 keeps sqrt(n). This is the
    duplicate-DOWNWEIGHTING policy (the D4 / SemDeDup line of work
    observes that some repetition helps and full dedup over-prunes
    popular content): an n-fold-duplicated page survives with weight
    n^alpha instead of n (natural) or 1 (hard dedup).

    Members are ranked by the same deterministic hash-bucket family as
    ext.sampling (knuth for oracle replay, xxhash64 for arbitrary-width
    keys at scale), ties by id — so the kept set is a pure function of
    (cluster, id, salt): reruns, incremental loads, and different
    cluster sizes agree. Caveat inherited from _bucket: the knuth arm
    is salt-FREE (pmod(id * A, BUCKETS) — that is what makes it
    oracle-replayable), so varying `salt` changes the draw only under
    method='xxhash64'. One shuffle on cluster_id (both window
    functions share the partitioning); docs absent from every pair are
    singleton clusters and always kept. Pass `components` (a resolved
    (node, component) map over the SAME pair graph) to reuse an
    existing components pass, as in cluster_keeper_from_pairs. Output:
    (id, cluster_id, n_members, quota, kept 0/1)."""
    from pyspark.sql import Window

    from .sampling import _bucket

    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"soft_dedup: alpha must be in [0, 1], got {alpha}")
    if components is None and pairs is None:
        raise ValueError(
            "soft_dedup: supply pairs (a (d1, d2) graph) or components "
            "(resolved labels) - got neither"
        )
    if components is not None:
        comp = components
    else:
        from .graph import connected_components

        comp = connected_components(pairs, "d1", "d2")
    labeled = df.select(id_col).join(
        comp.withColumnRenamed("node", id_col), id_col, "left"
    ).withColumn("cluster_id", F.coalesce("component", F.col(id_col)))
    w_cl = Window.partitionBy("cluster_id")
    w_rnk = w_cl.orderBy(_bucket(id_col, method, salt), F.col(id_col))
    n = F.count(F.lit(1)).over(w_cl).cast("long")
    quota = F.least(
        n, F.ceil(F.pow(n.cast("double"), F.lit(float(alpha)))).cast("long")
    )
    return labeled.select(
        F.col(id_col),
        "cluster_id",
        n.alias("n_members"),
        quota.alias("quota"),
        (F.row_number().over(w_rnk) <= quota).cast("long").alias("kept"),
    )


def dedup_threshold_sweep(
    pairs: DataFrame,
    thresholds: tuple[float, ...] = (0.7, 0.8, 0.9, 0.95),
    score_col: str = "jacc",
) -> DataFrame:
    """Threshold-sensitivity report (X211) — the audit-family answer to
    "is 0.8 the right dedup threshold for THIS corpus": from ONE scored
    pair discovery (jaccard_pairs / minhash verify output — any frame
    with (d1, d2, score)), the pair count and distinct-doc count at
    every candidate threshold. A cliff between two rows means the
    corpus has a near-dup mode there; a flat curve means the choice
    barely matters. Discovery runs ONCE at min(thresholds); the sweep
    is an explode of a |thresholds|-literal array over PAIR-sized rows
    (never corpus-sized) + two rollups, with a left join from the
    threshold list so zero-pair thresholds still report 0/0.
    Output: (threshold, n_pairs, n_docs), one row per threshold."""
    if not thresholds:
        raise ValueError("dedup_threshold_sweep: thresholds must be non-empty")
    # dedupe: a repeated candidate would double every count AND emit
    # duplicate output rows (code-review r12)
    cand = sorted({float(t) for t in thresholds})
    spark = pairs.sparkSession
    tarr = F.array(*[F.lit(t) for t in cand])
    tdf = local_frame(spark, [(t,) for t in cand], "threshold double")
    # ONE reference to the exploded frame: each qualifying pair emits
    # its two endpoints per threshold, so n_pairs = rows/2 and n_docs =
    # distinct endpoints from the SAME aggregation — referencing the
    # pair subtree multiple times would recompute the (lambda-bearing,
    # exchange-reuse-defeating) discovery once per consumer
    # (code-review r12; the q20 lesson)
    ends = (
        pairs.select(
            F.col(score_col).alias("_score"),
            F.explode(F.array("d1", "d2")).alias("_doc"),
        )
        .select("_doc", F.explode(tarr).alias("threshold"), "_score")
        .where(F.col("_score") >= F.col("threshold"))
    )
    agg = ends.groupBy("threshold").agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_pairs"),
        F.countDistinct("_doc").cast("long").alias("n_docs"),
    )
    return tdf.join(agg, "threshold", "left").select(
        "threshold",
        F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
        F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
    )


def minhash_recall_audit(
    df: DataFrame,
    threshold: float = 0.8,
    sample_mod: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Measure the MinHash+LSH shortcut instead of trusting it: exact
    jaccard_pairs vs minhash_dedup_pairs on (a deterministic hash
    sample of) the corpus, with missed/extra pair counts and
    recall/precision — the dedup member of the audit family
    (pruning/bloom/quantile, X151/X155/X162). At 100 TB run it on a
    sample via sample_mod=k (keeps ids with xxhash64(id) % k == 0);
    exact pairs are quadratic in posting lists, so the full-corpus
    form is a gate-SF check by design. Since candidates are verified
    with exact Jaccard, precision is 1.0 by construction and recall
    is the real measurement. Output: one row (n_docs, n_exact_pairs,
    n_lsh_pairs, n_missed, n_extra, recall, precision)."""
    if sample_mod is not None:
        df = df.where(
            F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(sample_mod))
            == 0
        )
    exact = jaccard_pairs(df, threshold, id_col, text_col).select("d1", "d2")
    lsh = minhash_dedup_pairs(df, threshold, id_col, text_col).select("d1", "d2")
    missed = exact.join(lsh, ["d1", "d2"], "left_anti").agg(
        F.count(F.lit(1)).cast("long").alias("n_missed")
    )
    extra = lsh.join(exact, ["d1", "d2"], "left_anti").agg(
        F.count(F.lit(1)).cast("long").alias("n_extra")
    )
    ne = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact_pairs"))
    nl = lsh.agg(F.count(F.lit(1)).cast("long").alias("n_lsh_pairs"))
    nd = df.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    row = (
        nd.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(nl))
        .crossJoin(F.broadcast(missed))
        .crossJoin(F.broadcast(extra))
    )
    safe = F.greatest(F.col("n_exact_pairs"), F.lit(1)).cast("double")
    safel = F.greatest(F.col("n_lsh_pairs"), F.lit(1)).cast("double")
    return row.select(
        "n_docs",
        "n_exact_pairs",
        "n_lsh_pairs",
        "n_missed",
        "n_extra",
        (
            (F.col("n_exact_pairs") - F.col("n_missed")).cast("double") / safe
        ).alias("recall"),
        (
            (F.col("n_lsh_pairs") - F.col("n_extra")).cast("double") / safel
        ).alias("precision"),
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 3,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's
    MOSS algorithm): slide a w-wide window over the document's ORDERED
    k-gram hash stream and keep each window's minimum hash. The
    classic guarantee: any run of >= w + k - 1 tokens shared by two
    documents selects at least one common fingerprint, at an expected
    density of only 2/(w+1) fingerprints per position — the
    position-robust near-dup primitive plain shingle sampling lacks
    (an edit far away never changes which hashes a local window
    keeps).

    Hashes ride md5_token_hash (the portable 60-bit hash), so the
    fingerprints — and everything joined on them — replay bit-exactly
    in any engine (the q21/q194 portability discipline). Docs with
    < k tokens have no k-grams and drop out; docs with fewer than w
    k-grams contribute the single minimum of what exists (standard
    short-document degeneration). Unlike `shingles`, the k-gram
    stream here is NOT array_distinct'ed: winnowing is defined over
    positions, so repeats must stay.

    Scale shape: one posexplode over the ordered k-gram expression
    (the expression rides the explode directly — the `shingles`
    lesson: an aliased array attribute re-inlines the tokenize into a
    pushed filter, measured 10x slower), one window min partitioned by
    doc, then distinct (doc, fp) with map-side combine. Output:
    (id_col, fp)."""
    from pyspark.sql import Window

    from .textops import _ngrams

    base = df.select(F.col(id_col), tokens(text_col).alias("toks")).where(
        F.size("toks") >= k
    )
    grams = base.select(
        F.col(id_col),
        (F.size("toks") - F.lit(k - 1)).alias("_m"),
        F.posexplode(_ngrams(F.col("toks"), k)).alias("_pos", "_g"),
    )
    w_win = Window.partitionBy(id_col).orderBy("_pos").rowsBetween(0, w - 1)
    sel = (
        grams.withColumn("_fp", F.min(md5_token_hash(F.col("_g"))).over(w_win))
        # windows start at positions 0 .. m-w (or just position 0 when
        # the doc has fewer than w k-grams); later rows are partial
        # suffix windows winnowing does not define
        .where(F.col("_pos") <= F.greatest(F.col("_m") - F.lit(w), F.lit(0)))
    )
    return sel.select(F.col(id_col), F.col("_fp").alias("fp")).distinct()


def winnow_overlap_pairs(
    df: DataFrame,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
    limit: int | None = None,
    n_salts: int = 32,
) -> DataFrame:
    """Near-dup candidate pairs ranked by shared winnowed
    fingerprints: the MOSS report shape (who shares how much local
    structure with whom), built on winnow_fingerprints' guarantee that
    every shared >= w+k-1-token run is represented.

    `max_df` is the jaccard_pairs defense-in-depth discipline: the
    fp self-join costs sum(|posting list|^2), so fingerprints whose
    document frequency exceeds the cap are pruned from the JOIN side
    only — n_shared can then only undercount, so every emitted pair
    truly shares >= its reported n_shared (precision 1.0) and the only
    possible error is a whole MISSED pair hiding entirely inside
    boilerplate fingerprints; a warning names the pruned count when
    the cap binds (eager census, the jaccard_pairs contract). `limit`
    returns the top pairs by (n_shared desc, d1, d2) via the salted
    two-phase window — never one global sort of the full pair set.
    Output: (d1, d2, n_shared), d1 < d2, all exact integers."""
    from pyspark.sql import Window

    # The jaccard_pairs discipline: the fingerprint table is
    # repartitioned by the self-join key ONCE and pinned — both join
    # sides (and the max_df census) read one cached co-partitioned
    # relation instead of each re-running the tokenize -> gram ->
    # window-min -> distinct pipeline.
    fps = _pin(
        winnow_fingerprints(df, k, w, id_col, text_col).repartition(F.col("fp"))
    )
    join_fps = fps
    if max_df is not None:
        hot = _checkpoint(
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > max_df)
            .select("fp")
        )
        n_hot = hot.count()
        if n_hot:
            import warnings

            warnings.warn(
                f"winnow_overlap_pairs: max_df={max_df} pruned {n_hot} "
                "hot fingerprint(s) from the inverted index - n_shared "
                "undercounts and whole pairs may be missed (precision "
                "1.0 on what is emitted)",
                stacklevel=2,
            )
        join_fps = fps.join(hot, "fp", "left_anti")
    a = join_fps.select(F.col(id_col).alias("d1"), "fp")
    b = join_fps.select(F.col(id_col).alias("d2"), "fp")
    pairs = (
        a.join(b, "fp")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    if limit is None:
        return pairs
    w_pre = Window.partitionBy("_salt").orderBy(
        F.desc("n_shared"), F.col("d1"), F.col("d2")
    )
    w_fin = Window.orderBy(F.desc("n_shared"), F.col("d1"), F.col("d2"))
    return (
        pairs.withColumn("_salt", F.pmod(F.xxhash64("d1"), F.lit(n_salts)))
        .withColumn("_r", F.row_number().over(w_pre))
        .where(F.col("_r") <= limit)
        .withColumn("_rn", F.row_number().over(w_fin))
        .where(F.col("_rn") <= limit)
        .select("d1", "d2", "n_shared")
    )
