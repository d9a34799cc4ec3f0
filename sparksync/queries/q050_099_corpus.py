"""Corpus-prep compositions: prep pipeline, splits/sampling/packing, TF-IDF/BM25, PII, spans, mixing.

Verbatim slice of the pre-split sparksync/queries.py (band q050-q099).
"""

from __future__ import annotations

from ._base import *  # noqa: F401,F403 — shared fixture/session surface
from ._base import _dec, _register_views  # noqa: F401

from .q018_049_llm_ext import ORACLE_Q49  # noqa: F401

def q50_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone: the full training-corpus preparation pipeline as ONE
    lazy DataFrame graph — language filter (en) -> quality filter ->
    exact dedup (keep min doc_id per text) -> deterministic train/val/
    test split -> per-split counts and token totals. Catalyst fuses the
    narrow stages (lang + quality + split are one map over the scan);
    the only shuffles are the dedup groupBy and the final count."""
    docs = load(spark, sf_dir, "documents")
    lang = textops.language_id(docs).where(F.col("pred_lang") == "en")
    qual = textops.quality_score(docs).where(F.col("keep") == 1)
    kept = (
        docs.join(lang.select("doc_id"), "doc_id")
        .join(qual.select("doc_id", "n_tokens"), "doc_id")
    )
    deduped = kept.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"), F.min("n_tokens").alias("n_tokens")
    )
    split = sampling.split_assign(
        deduped, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, method="knuth"
    )
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )


ORACLE_Q50 = """
with t as (
  select doc_id, text,
         list_filter(string_split(trim(text), ' '), x -> x <> '') as toks
  from documents),
en as (
  select doc_id from documents
  where text like '% the %' or text like 'the %' or text like '% the'),
q as (
  select doc_id, cast(len(toks) as bigint) as n_tokens,
         cast(len(list_filter(toks, x -> x in ('the','a','of'))) as bigint) as stop_cnt
  from t),
keepq as (
  select doc_id, n_tokens from q
  where n_tokens >= 20 and n_tokens <= 1000
    and cast(stop_cnt as double) / cast(n_tokens as double) < 0.5),
kept as (
  select d.doc_id, d.text, k.n_tokens
  from documents d join en using (doc_id) join keepq k using (doc_id)),
dd as (
  select min(doc_id) as doc_id, min(n_tokens) as n_tokens
  from kept group by text),
s as (
  select case when mod(doc_id * 2654435761, 10000) < 8000 then 'train'
              when mod(doc_id * 2654435761, 10000) < 9000 then 'val'
              else 'test' end as split,
         n_tokens
  from dd)
select split, count(*) as n_docs, cast(sum(n_tokens) as bigint) as n_tokens
from s group by split
"""

def q51_batch_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched kNN (ext/similarity.knn_batch): top-3 cosine neighbors
    for five query vectors in one corpus scan; ranking windows partition
    by query id, so no global sort exists anywhere in the plan."""
    return similarity.knn_batch(
        load(spark, sf_dir, "embeddings"), [0, 1, 2, 3, 4], k=3
    )


ORACLE_Q51 = """
with e as (
  select vec_id, list_transform(embedding, x -> cast(x as double)) as v
  from embeddings),
q as (select vec_id as query_id, v as qv from e where vec_id in (0,1,2,3,4)),
scored as (
  select q.query_id, e.vec_id,
    list_dot_product(e.v, q.qv) /
      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)))
      as cos
  from e cross join q where e.vec_id <> q.query_id),
r as (
  select query_id, vec_id as neighbor_id,
         cast(row_number() over (partition by query_id
                                 order by cos desc, vec_id) as bigint) as rnk
  from scored)
select query_id, neighbor_id, rnk from r where rnk <= 3
"""

def q52_partition_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day partition digests of events (compare.partition_checksums,
    md5 so DuckDB replays it bit-for-bit): the incremental-compare
    primitive — a mismatching day is the only slice a re-sync touches."""
    from ..compare import partition_checksums

    # day as a midnight timestamp, not DATE: result bridges normalize
    # dates inconsistently (pandas renders one side date, one Timestamp)
    e = load(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date").cast("timestamp_ntz")
    )
    pc = partition_checksums(
        e.select("day", "event_id", "user_id", "event_type"),
        ["day"],
        algo="md5",
    )
    # hsum as string: decimal(38,0) would render as Decimal and hash-fail
    # against the DuckDB bridge's hugeint (the q28 rendering class).
    return pc.withColumn("hsum", F.col("hsum").cast("string"))


ORACLE_Q52 = """
with h as (
  select cast(cast(ts as date) as timestamp) as day,
         md5(concat_ws(chr(31), cast(event_id as varchar),
                       cast(user_id as varchar), event_type)) as hx
  from events)
select day, count(*) as cnt, min(hx) as hmin, max(hx) as hmax,
  cast(sum(cast(cast('0x' || substring(hx, 1, 15) as ubigint) as hugeint))
       as varchar) as hsum
from h group by 1
"""

def q53_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware exact dedup (ext/dedup.normalized_dedup):
    casefold + whitespace collapse before hashing, so reformatted copies
    collapse into one group. Output keyed by min doc id (the hash column
    is engine-specific, so the gate compares the group structure)."""
    d = dedup.normalized_dedup(load(spark, sf_dir, "documents"))
    return d.select("doc_id", "dup_count")


ORACLE_Q53 = """
select min(doc_id) as doc_id, count(*) as dup_count
from (select doc_id,
        lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) as norm
      from documents)
group by norm
"""

def q54_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition filter (ext/textops
    .repetition_stats): duplicate-token + duplicate-2-gram fractions and
    a keep flag, all narrow array math — scan-speed at 100 TB."""
    return textops.repetition_stats(load(spark, sf_dir, "documents"))


ORACLE_Q54 = """
with t as (
  select doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') toks
  from documents),
b as (
  select doc_id,
    len(toks)::bigint n_tokens,
    len(list_distinct(toks))::bigint uniq_tokens,
    case when len(toks) >= 2
      then [toks[i] || ' ' || toks[i+1] for i in generate_series(1, len(toks)-1)]
      else [] end grams
  from t),
c as (
  select doc_id, n_tokens, uniq_tokens,
    len(grams)::bigint n_2grams,
    len(list_distinct(grams))::bigint uniq_2grams
  from b),
d as (
  select *,
    case when n_tokens > 0
      then 1.0 - uniq_tokens / cast(n_tokens as double) else 0.0 end dup_token_ratio,
    case when n_2grams > 0
      then 1.0 - uniq_2grams / cast(n_2grams as double) else 0.0 end dup_2gram_ratio
  from c)
select doc_id, n_tokens, uniq_tokens, n_2grams, uniq_2grams,
  dup_token_ratio, dup_2gram_ratio,
  cast(case when dup_token_ratio <= 0.6 and dup_2gram_ratio <= 0.05
       then 1 else 0 end as bigint) as keep
from d
"""


def q55_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate 3-grams by doc frequency (ext/textops
    .boilerplate_ngrams): per-doc distinct shingles -> one partial-agg
    count -> TakeOrderedAndProject top-k."""
    return textops.boilerplate_ngrams(
        load(spark, sf_dir, "documents"), min_docs=2, top_k=20
    )


ORACLE_Q55 = """
with t as (
  select doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') toks
  from documents),
g as (
  select doc_id,
    list_distinct(case when len(toks) >= 3
      then [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
            for i in generate_series(1, len(toks)-2)]
      else [] end) grams
  from t),
e as (select unnest(grams) as gram from g)
select gram, count(*)::bigint as doc_freq
from e group by gram
having count(*) >= 2
order by doc_freq desc, gram
limit 20
"""


def q56_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (ext/textops.contamination_flags):
    flag corpus docs sharing any distinct 3-gram with a (small,
    broadcast) benchmark set — here the docs with doc_id < 20 stand in
    for an eval set."""
    docs = load(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") < 20)
    return textops.contamination_flags(docs, bench, min_overlap=1)


ORACLE_Q56 = """
with t as (
  select doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') toks
  from documents),
g as (
  select doc_id,
    list_distinct(case when len(toks) >= 3
      then [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
            for i in generate_series(1, len(toks)-2)]
      else [] end) grams
  from t),
e as (select doc_id, unnest(grams) gram from g),
bench as (select distinct gram from e where doc_id < 20),
ov as (
  select e.doc_id, count(*)::bigint n_overlap
  from e join bench using (gram) group by e.doc_id)
select t.doc_id,
  cast(coalesce(ov.n_overlap, 0) as bigint) as n_overlap,
  cast(case when coalesce(ov.n_overlap, 0) >= 1 then 1 else 0 end as bigint)
    as contaminated
from t left join ov using (doc_id)
"""


def q57_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based rebalancing (ext/sampling.temperature_sample,
    alpha=0.5) over the LANGUAGE strata — the fixtures' langs are skewed
    (en dominates ~3:1) so the big ones really downsample; the smallest
    keeps 100%. knuth hash so DuckDB replays the kept set exactly."""
    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return sampling.temperature_sample(
        d, "lang", "doc_id", alpha=0.5, method="knuth"
    )


ORACLE_Q57 = """
with c as (select lang, count(*) as n from documents group by lang),
r as (select lang, pow(cast(n as double), -0.5) as raw from c),
k as (select max(raw) as mx from r),
rt as (select lang,
              greatest(cast(floor(raw / mx * 10000) as bigint), 1)
                as keep_below
       from r cross join k)
select d.doc_id, d.lang
from documents d join rt using (lang)
where (d.doc_id * 2654435761) % 10000 < rt.keep_below
"""


def q58_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-5 vocabulary (ext/textops.vocab_topk): two-phase
    salted top-k so no task ever sorts a whole language's vocabulary."""
    return textops.vocab_topk(load(spark, sf_dir, "documents"), k=5)


ORACLE_Q58 = """
with t as (
  select lang,
         unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) as tok
  from documents),
c as (select lang, tok, count(*) as freq from t group by 1, 2),
r as (select lang, tok, freq,
        row_number() over (partition by lang order by freq desc, tok) as rnk
      from c)
select lang, tok, freq, cast(rnk as bigint) as rnk from r where rnk <= 5
"""


def q59_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming near-dup join over supplier names (ext/dedup
    .hamming_pairs, max_dist=2): PassJoin segment banding + codegen
    mismatch verify; DuckDB's hamming() replays the semantics exactly."""
    s = load(spark, sf_dir, "supplier")
    return dedup.hamming_pairs(s, col="s_name", max_dist=2, id_col="s_suppkey")


ORACLE_Q59 = """
select a.s_suppkey as d1, b.s_suppkey as d2,
       cast(hamming(a.s_name, b.s_name) as bigint) as dist
from supplier a
join supplier b
  on a.s_suppkey < b.s_suppkey
 and length(a.s_name) = length(b.s_name)
where case when length(a.s_name) = length(b.s_name)
           then hamming(a.s_name, b.s_name) else 3 end <= 2
"""


def q60_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 salient terms by tf x (N/df) (ext/textops
    .tfidf_topk). The idf factor is the plain ratio N/df — exact
    integer arithmetic plus one IEEE division, so the weight is
    bit-replayable cross-engine (ln() is not; ranking is unchanged
    since ln is monotone)."""
    return textops.tfidf_topk(load(spark, sf_dir, "documents"), k=3)


ORACLE_Q60 = """
with tf as (
  select doc_id, tok, cast(count(*) as bigint) as tf
  from (select doc_id,
               unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) as tok
        from documents)
  group by doc_id, tok),
dfreq as (select tok, cast(count(*) as bigint) as doc_freq from tf group by tok),
n as (select count(distinct doc_id) as n_docs from tf),
scored as (
  select tf.doc_id, tf.tok, tf.tf,
         cast(tf.tf * n.n_docs as double) / cast(dfreq.doc_freq as double) as weight
  from tf join dfreq using (tok) cross join n),
r as (select *, row_number() over (partition by doc_id order by weight desc, tok) as rnk
      from scored)
select doc_id, tok, tf, weight, cast(rnk as bigint) as rnk from r where rnk <= 3
"""


def q61_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document quota (ext/sampling.per_key_cap): keep the
    30 longest docs per source — the per-domain cap every crawl
    pipeline applies. Two-phase salted windows, so no task sorts a
    whole source."""
    d = load(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    return sampling.per_key_cap(d, "source", "n_chars", "doc_id", cap=30).select(
        "source", "doc_id", "n_chars", "rnk"
    )


ORACLE_Q61 = """
select source, doc_id, n_chars, cast(rnk as bigint) as rnk from (
  select source, doc_id, n_chars,
         row_number() over (partition by source order by n_chars desc, doc_id) as rnk
  from documents)
where rnk <= 30
"""


def q62_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar quantization of the embedding store (ext/similarity
    .quantize_embeddings): global per-dim min/max codebook (one
    partial-agg row, broadcast back) + a codegen narrow map. Emitted
    exploded as (vec_id, i, code) so the gate compares scalars; the
    fixed single-IEEE-op chain makes codes bit-replayable cross-engine.
    test_ext.py bounds the recall cost of quantized kNN."""
    q = similarity.quantize_embeddings(load(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id", F.posexplode("codes").alias("i", "code")
    ).select(
        "vec_id",
        (F.col("i") + 1).cast("long").alias("i"),
        F.col("code").cast("long").alias("code"),
    )


ORACLE_Q62 = """
with e as (
  select vec_id, generate_subscripts(embedding, 1) as i,
         cast(unnest(embedding) as double) as x
  from embeddings),
stats as (select i, min(x) as mn, max(x) as mx from e group by i)
select e.vec_id, cast(e.i as bigint) as i,
  cast(case when s.mx > s.mn
            then least(255, greatest(0,
                 cast(round((e.x - s.mn) / ((s.mx - s.mn) / 255.0)) as int)))
            else 0 end as bigint) as code
from e join stats s using (i)
"""


def q63_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup (ext/dedup.minhash_dedup_pairs_cross): LSH
    near-dup pairs between a 'new batch' (odd doc_ids) and the
    'existing corpus' (even doc_ids). Candidates verified with exact
    Jaccard, so the result equals the exact cross all-pairs oracle
    whenever LSH recall catches every >=0.8 pair (verified on the
    deterministic fixtures at sf0.001 and sf0.01)."""
    docs = load(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 2 == 1)
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    return dedup.minhash_dedup_pairs_cross(new, corpus, threshold=0.8)


ORACLE_Q63 = """
with docs as (
  select doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') as toks
  from documents),
docs3 as (select * from docs where len(toks) >= 3),
sh as (
  select distinct doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] as shingle
  from docs3, unnest(range(1, len(toks) - 1)) t(i)),
sizes as (select doc_id, count(*) as n from sh group by doc_id),
common as (
  select a.doc_id as new_id, b.doc_id as corpus_id, count(*) as c
  from sh a join sh b on a.shingle = b.shingle
  where a.doc_id % 2 = 1 and b.doc_id % 2 = 0
  group by 1, 2)
select new_id, corpus_id,
  cast(c as double) / cast(na.n + nb.n - c as double) as jacc
from common
join sizes na on na.doc_id = new_id
join sizes nb on nb.doc_id = corpus_id
where cast(c as double) / cast(na.n + nb.n - c as double) >= 0.8
"""


def q64_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (ext/textops.redact_pii): email + long-digit-run
    redaction with per-doc counts. The fixtures contain no PII, so the
    gate proves the rewrite is bit-stable cross-engine (passthrough +
    zero counts); test_ext.py drives synthetic positives."""
    return textops.redact_pii(load(spark, sf_dir, "documents"))


ORACLE_Q64 = """
select doc_id,
  regexp_replace(
    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
    '[0-9]{9,}', '<NUM>', 'g') as clean_text,
  cast(len(regexp_extract_all(text,
       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) as bigint) as n_emails,
  cast(len(regexp_extract_all(
       regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                      '<EMAIL>', 'g'),
       '[0-9]{9,}')) as bigint) as n_longnums
from documents
"""


def q65_merge_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch CDC merge (compare.merge_snapshot): a deterministic update
    batch — repriced rows (o_orderkey % 97 = 0, price doubled) plus
    synthetic inserts (keys shifted by 10M for o_orderkey % 499 = 0) —
    merged over the orders snapshot. Updates win on collision, inserts
    append, untouched rows pass through."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    updates = o.where(F.col("o_orderkey") % 97 == 0).select(
        "o_orderkey", "o_custkey", (F.col("o_totalprice") * 2).alias("o_totalprice")
    )
    inserts = o.where(F.col("o_orderkey") % 499 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_custkey",
        "o_totalprice",
    )
    return compare.merge_snapshot(o, updates.unionByName(inserts), ["o_orderkey"])


ORACLE_Q65 = """
with o as (select o_orderkey, o_custkey, o_totalprice from orders),
upd as (
  select o_orderkey, o_custkey, o_totalprice * 2 as o_totalprice
  from o where o_orderkey % 97 = 0
  union all
  select o_orderkey + 10000000, o_custkey, o_totalprice
  from o where o_orderkey % 499 = 0)
select * from o where o_orderkey not in (select o_orderkey from upd)
union all
select * from upd
"""


def q66_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column null/cardinality profile of orders
    (compare.table_profile): one aggregate pass, exploded to one row
    per column."""
    return compare.table_profile(load(spark, sf_dir, "orders"))


ORACLE_Q66 = """
select 'o_orderkey' as col_name, count(*) - count(o_orderkey) as n_nulls,
       count(distinct o_orderkey) as n_distinct from orders
union all
select 'o_custkey', count(*) - count(o_custkey), count(distinct o_custkey) from orders
union all
select 'o_orderstatus', count(*) - count(o_orderstatus), count(distinct o_orderstatus) from orders
union all
select 'o_totalprice', count(*) - count(o_totalprice), count(distinct o_totalprice) from orders
union all
select 'o_orderdate', count(*) - count(o_orderdate), count(distinct o_orderdate) from orders
union all
select 'o_orderpriority', count(*) - count(o_orderpriority), count(distinct o_orderpriority) from orders
"""


def q67_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit (compare.fk_orphans) over the
    fixture FK graph: orphan counts per relation (all 0 on clean
    fixtures — the audit proving it) plus one deliberately-broken
    relation (lineitem filtered to half the orders) showing non-zero."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    half_orders = o.where(F.col("o_orderkey") % 2 == 0)
    checks = [
        compare.fk_orphans(li, o, "l_orderkey", "o_orderkey", "lineitem_orders"),
        compare.fk_orphans(o, c, "o_custkey", "c_custkey", "orders_customer"),
        compare.fk_orphans(
            li, half_orders, "l_orderkey", "o_orderkey", "lineitem_half_orders"
        ),
    ]
    out = checks[0]
    for x in checks[1:]:
        out = out.unionByName(x)
    return out


ORACLE_Q67 = """
select 'lineitem_orders' as fk_name,
       cast(count(*) filter (where l_orderkey not in
            (select o_orderkey from orders)) as bigint) as n_orphans
from lineitem where l_orderkey is not null
union all
select 'orders_customer',
       cast(count(*) filter (where o_custkey not in
            (select c_custkey from customer)) as bigint)
from orders where o_custkey is not null
union all
select 'lineitem_half_orders',
       cast(count(*) filter (where l_orderkey not in
            (select o_orderkey from orders where o_orderkey % 2 = 0)) as bigint)
from lineitem where l_orderkey is not null
"""


def q68_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing (ext/sampling.pack_sequences): fill
    2000-char training sequences with whole documents, first-fit in
    doc_id order within 8 shards. The oracle replays the same
    recurrence as a DuckDB recursive CTE — packing is the one operator
    here whose semantics are inherently sequential, so the gate proves
    the sharded applyInPandas path preserves them exactly."""
    d = load(spark, sf_dir, "documents")
    return sampling.pack_sequences(
        d, id_col="doc_id", cost_col="n_chars", budget=2000, n_shards=8
    )


ORACLE_Q68 = """
with recursive docs as (
  select doc_id, n_chars, doc_id % 8 as shard,
         row_number() over (partition by doc_id % 8 order by doc_id) as rn
  from documents),
pack as (
  select shard, rn, doc_id, n_chars, cast(0 as bigint) as seq_id,
         n_chars as fill
  from docs where rn = 1
  union all
  select d.shard, d.rn, d.doc_id, d.n_chars,
         case when p.fill + d.n_chars > 2000 then p.seq_id + 1 else p.seq_id end,
         case when p.fill + d.n_chars > 2000 then d.n_chars
              else p.fill + d.n_chars end
  from pack p join docs d on d.shard = p.shard and d.rn = p.rn + 1)
select cast(shard as bigint) as shard, seq_id,
       cast(doc_id as bigint) as doc_id, cast(n_chars as bigint) as n_chars,
       cast(fill - n_chars as bigint) as offset
from pack
"""


def q69_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-threshold length filter (ext/sampling.percentile_filter):
    drop the shortest quartile of the corpus. Exact percentile of an
    integer metric interpolates between small integers, so the double
    threshold is bit-identical to DuckDB's quantile_cont."""
    d = load(spark, sf_dir, "documents")
    return sampling.percentile_filter(d, "n_chars", p=0.25, keep="upper").select(
        "doc_id", "n_chars", "threshold"
    )


ORACLE_Q69 = """
select doc_id, n_chars, thr as threshold
from documents
cross join (select quantile_cont(n_chars, 0.25) as thr from documents)
where n_chars >= thr
"""


def q70_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-type hourly grid over events with forward fill
    (ext/asof.gap_fill): every hour between each type's first and last
    event, LOCF for silent hours — the gap-fill + last-observation pass
    ahead of any fixed-step time-series model."""
    e = load(spark, sf_dir, "events")
    out = asof.gap_fill(e, "event_type", "ts", "value", unit="hour")
    return out.select(
        "event_type",
        "bucket",
        F.col("observed").cast("long").alias("observed"),
        "value_ffill",
    )


ORACLE_Q70 = """
with b as (
  select event_type, cast(date_trunc('hour', ts) as timestamp) as bucket,
         cast(sum(cast(value as decimal(12,2))) as decimal(22,2)) as s
  from events group by 1, 2),
spine as (
  select event_type,
         unnest(generate_series(min(bucket), max(bucket), interval 1 hour))
           as bucket
  from b group by event_type),
j as (
  select spine.event_type, spine.bucket, b.s
  from spine left join b
    on spine.event_type = b.event_type and spine.bucket = b.bucket)
select event_type, bucket,
       cast(s is not null as bigint) as observed,
       cast(last_value(s ignore nulls) over (
            partition by event_type order by bucket
            rows between unbounded preceding and current row) as double)
         as value_ffill
from j
"""


def q71_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global exact span dedup with reassembly (ext/dedup.span_dedup,
    5-token spans): every distinct span survives once at its first
    (doc_id, pos) location; documents are rebuilt from surviving spans.
    The oracle encodes the first-owner rule as min(doc_id*1e6 + pos) —
    identical to the struct-min for in-range ids."""
    d = load(spark, sf_dir, "documents")
    return dedup.span_dedup(d, span_tokens=5)


ORACLE_Q71 = """
with toks as (
  select doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') as t
  from documents),
ex as (
  select doc_id, i as pos, array_to_string(t[(i*5+1):(i*5+5)], ' ') as span
  from toks, unnest(range(cast(ceil(len(t) / 5.0) as bigint))) as u(i)),
kept as (
  select span, min(doc_id * 1000000 + pos) as ok from ex group by span),
reb as (
  select ok // 1000000 as doc_id,
         cast(count(*) as bigint) as n_kept,
         string_agg(span, ' ' order by ok % 1000000) as new_text
  from kept group by 1),
n as (select doc_id, cast(ceil(len(t) / 5.0) as bigint) as n_spans from toks)
select n.doc_id, n.n_spans,
       coalesce(reb.n_kept, 0) as n_kept,
       coalesce(reb.new_text, '') as new_text
from n left join reb using (doc_id)
"""


def q72_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key profile of orders.o_custkey (ext/skew.key_skew_stats):
    the measurement pass that decides whether a downstream join needs
    salting. Top-10 heaviest customers with share and skew factor."""
    o = load(spark, sf_dir, "orders")
    return skew.key_skew_stats(o, "o_custkey", top_k=10)


ORACLE_Q72 = """
with counts as (select o_custkey, count(*) as cnt from orders group by 1),
tot as (select cast(sum(cnt) as bigint) as total,
               cast(count(*) as bigint) as nk
        from counts)
select o_custkey, cast(cnt as bigint) as cnt, total as total_rows,
       nk as n_keys,
       cast(cnt as double) / cast(total as double) as share,
       cast(cnt * nk as double) / cast(total as double) as skew_factor
from counts cross join tot
order by cnt desc, o_custkey
limit 10
"""


def q73_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus collocation mining (ext/textops.collocations): top-20
    adjacent bigrams by PMI kept as the rational p(xy)/(p(x)p(y)) —
    exact bigint products divided once into a double, so the score is
    engine-portable and the ranking equals the ln() formulation."""
    return textops.collocations(
        load(spark, sf_dir, "documents"), min_count=3, top_k=20
    )


ORACLE_Q73 = """
with toks as (
  select list_filter(string_split(trim(text), ' '), x -> x <> '') as t
  from documents),
uni as (
  select tok as w, count(*) as c
  from (select unnest(t) as tok from toks) group by 1),
bi as (
  select w1, w2, count(*) as c_xy
  from (select t[i] as w1, t[i+1] as w2
        from toks, unnest(range(1, len(t))) as u(i))
  group by 1, 2),
tot as (
  select (select cast(sum(c) as bigint) from uni) as nu,
         (select cast(sum(c_xy) as bigint) from bi) as nb),
scored as (
  select w1, w2, cast(c_xy as bigint) as c_xy,
         ((cast(c_xy as double) * cast(nu as double)) * cast(nu as double))
         / ((cast(nb as double) * cast(ux.c as double)) * cast(uy.c as double))
           as pmi
  from bi
  join uni ux on ux.w = bi.w1
  join uni uy on uy.w = bi.w2
  cross join tot
  where c_xy >= 3)
select w1, w2, c_xy, pmi,
       cast(row_number() over (order by pmi desc, w1, w2) as bigint) as rnk
from scored order by pmi desc, w1, w2 limit 20
"""


def q74_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-filtered kNN / hybrid search (ext/similarity.filtered_knn):
    top-10 cosine neighbors of vec 0 restricted to German documents —
    the metadata-filter-then-rank shape. The candidate prune is a
    left_semi join BEFORE any dot product runs."""
    emb = load(spark, sf_dir, "embeddings")
    allowed = (
        load(spark, sf_dir, "documents")
        .where(F.col("lang") == "de")
        .select("doc_id")
    )
    return similarity.filtered_knn(emb, allowed, query_id=0, k=10)


ORACLE_Q74 = """
with q as (select embedding as qe from embeddings where vec_id = 0),
allowed as (select doc_id from documents where lang = 'de'),
scored as (
  select vec_id,
         list_cosine_similarity(list_transform(embedding, x -> cast(x as double)),
                                list_transform(qe,        x -> cast(x as double))) as cos
  from embeddings join allowed on embeddings.vec_id = allowed.doc_id
  cross join q
  where vec_id <> 0)
select vec_id as neighbor_id,
       row_number() over (order by cos desc, vec_id) as rnk
from scored order by cos desc, vec_id limit 10
"""


def q75_dedup_shrink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-shrink audit — the full near-dup dedup pipeline composed
    end-to-end: LSH candidate pairs (ext/dedup.minhash_dedup_pairs) ->
    transitive duplicate groups (ext/graph.dedup_groups) -> canonical
    keep -> per-source reduction stats. The number every dedup run
    reports: how much of each source survives."""
    from ..ext import graph

    docs = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(docs, threshold=0.8).select("d1", "d2")
    groups = graph.dedup_groups(pairs)
    flagged = docs.join(groups, "doc_id", "left")
    kept = F.when(
        F.col("keep_id").isNull() | (F.col("keep_id") == F.col("doc_id")), 1
    ).otherwise(0)
    out = flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(kept).cast("long").alias("n_kept"),
    )
    return out.select(
        "source",
        "n_docs",
        "n_kept",
        (F.col("n_docs") - F.col("n_kept")).cast("long").alias("n_dropped"),
        (
            (F.col("n_docs") - F.col("n_kept")).cast("double")
            / F.col("n_docs").cast("double")
        ).alias("shrink_pct"),
    )


# Same shingle/pair/component CTEs as ORACLE_Q49 (minhash LSH + exact
# verify reproduces the exact-Jaccard pair set — see q20), then the
# per-source keep aggregation.
ORACLE_Q75 = """
with recursive
docs as (
  select doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') as toks
  from documents),
docs3 as (select * from docs where len(toks) >= 3),
sh as (
  select distinct doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] as shingle
  from docs3, unnest(range(1, len(toks) - 1)) t(i)),
sizes as (select doc_id, count(*) as n from sh group by doc_id),
common as (
  select a.doc_id as d1, b.doc_id as d2, count(*) as c
  from sh a join sh b on a.shingle = b.shingle and a.doc_id < b.doc_id
  group by 1, 2),
pairs as (
  select d1, d2 from common
  join sizes na on na.doc_id = d1
  join sizes nb on nb.doc_id = d2
  where cast(c as double) / cast(na.n + nb.n - c as double) >= 0.8),
edges as (select d1 as a, d2 as b from pairs
          union all select d2, d1 from pairs),
reach(a, b) as (
  select a, b from edges
  union
  select r.a, e.b from reach r join edges e on r.b = e.a),
nodes as (select distinct a as node from edges),
groups as (
  select n.node as doc_id, least(n.node, min(r.b)) as keep_id
  from nodes n left join reach r on r.a = n.node
  group by n.node),
agg as (
  select d.source,
         cast(count(*) as bigint) as n_docs,
         cast(sum(case when g.keep_id is null or g.keep_id = d.doc_id
                       then 1 else 0 end) as bigint) as n_kept
  from documents d left join groups g using (doc_id)
  group by d.source)
select source, n_docs, n_kept,
       cast(n_docs - n_kept as bigint) as n_dropped,
       cast(n_docs - n_kept as double) / cast(n_docs as double) as shrink_pct
from agg
"""


def q76_group_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source z-score + min-max normalization of document length
    (ext/features.normalize_by_group). The doubles derive from exact
    integer sums + one IEEE sqrt, so DuckDB replays them bit-for-bit —
    built-in stddev aggregates would not (engine-specific merge
    order)."""
    from ..ext import features

    d = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return features.normalize_by_group(d, "source", "n_chars")


ORACLE_Q76 = """
-- n*ss - sm^2 is computed EXACTLY in hugeint (mirroring the engine's
-- decimal(38,0)) before the one double cast: the double-side
-- subtraction catastrophically cancels for large means (code-review
-- r12)
with st as (
  select source,
         cast(count(*) as hugeint) as n,
         cast(sum(cast(n_chars as hugeint)) as hugeint) as sm,
         sum(cast(n_chars as hugeint) * cast(n_chars as hugeint)) as ss,
         cast(min(n_chars) as bigint) as mn,
         cast(max(n_chars) as bigint) as mx
  from documents group by source)
select d.doc_id, d.source, d.n_chars,
       case when st.n > 1 and (st.ss * st.n - st.sm * st.sm) > 0
            then (cast(d.n_chars as double)
                  - cast(st.sm as double) / cast(st.n as double))
                 / sqrt(cast(st.ss * st.n - st.sm * st.sm as double)
                        / (cast(st.n as double)
                           * (cast(st.n as double) - 1.0)))
       end as zscore,
       case when st.mx > st.mn
            then (cast(d.n_chars as double) - cast(st.mn as double))
                 / (cast(st.mx as double) - cast(st.mn as double))
            else 0.0 end as minmax
from documents d join st on d.source is not distinct from st.source
"""


def q77_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency rarity scoring (ext/textops.rarity_score): a
    unigram-LM stand-in — per-doc total/mean corpus frequency of its
    tokens. mean_freq is one division of exact longs (bit-portable)."""
    return textops.rarity_score(load(spark, sf_dir, "documents"))


ORACLE_Q77 = """
with toks as (
  select doc_id, unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) as tok
  from documents),
vocab as (select tok, cast(count(*) as bigint) as freq from toks group by tok)
select t.doc_id,
       cast(count(*) as bigint) as n_tokens,
       cast(sum(v.freq) as bigint) as sum_freq,
       cast(sum(v.freq) as double) / cast(count(*) as double) as mean_freq
from toks t join vocab v using (tok)
group by t.doc_id
"""


def q78_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus mixing (ext/sampling.budget_mix): admit docs
    per source in Knuth-hash order until the source's token budget is
    spent. Budgets chosen to cut every fixture source mid-stream."""
    return sampling.budget_mix(
        load(spark, sf_dir, "documents"),
        "source",
        {"web": 20_000, "wiki": 10_000, "books": 5_000},
        "doc_id",
    )


ORACLE_Q78 = """
with base as (
  select doc_id, source,
         cast(len(list_filter(string_split(trim(text), ' '), x -> x <> '')) as bigint)
           as n_tokens,
         (doc_id * 2654435761) % 10000 as bucket,
         case source when 'web' then 20000 when 'wiki' then 10000
                     when 'books' then 5000 end as budget
  from documents),
cum as (
  select doc_id, source, n_tokens, budget,
         cast(sum(n_tokens) over (partition by source
                                  order by bucket, doc_id
                                  rows unbounded preceding) as bigint) as cum_tokens
  from base where budget is not null)
select doc_id, source, n_tokens, cum_tokens
from cum where cum_tokens <= budget
"""


def q79_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid outliers (ext/similarity.centroid_outliers):
    the 10 vectors farthest by cosine from their own label's centroid.
    Centroids sum as decimal(38,12) — order-insensitive exact — so
    DuckDB replays them bit-identically; the output carries no float."""
    return similarity.centroid_outliers(load(spark, sf_dir, "embeddings"), top_n=10)


ORACLE_Q79 = """
with e as (select vec_id, label,
                  list_transform(embedding, x -> cast(x as double)) as v
           from embeddings),
elems as (
  select vec_id, label, i as pos, v[i] as x
  from e, lateral unnest(generate_series(1, len(v))) as t(i)),
sums as (
  select label, pos,
         sum(cast(x as decimal(38,12))) as s, count(*) as n
  from elems group by label, pos),
cent as (
  select label, list(cast(s as double) / n order by pos) as centroid
  from sums group by label),
scored as (
  select e.vec_id, e.label,
         list_cosine_similarity(e.v, c.centroid) as cos
  from e join cent c using (label))
select vec_id, label, row_number() over (order by cos asc, vec_id) as rnk
from scored order by cos asc, vec_id limit 10
"""


def q80_merge_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge with deletes (compare.merge_cdc): a synthetic change
    batch over supplier — one update, one delete, one insert, plus a
    same-key insert-then-delete that must net out to absence via the
    seq ordering. Snapshot out."""
    from ..compare import merge_cdc

    sup = load(spark, sf_dir, "supplier")
    changes = spark.createDataFrame(
        [
            (1, "UPDATED NAME", "U", 10),
            (2, None, "D", 11),
            (900001, "BRAND NEW", "I", 12),
            (900002, "EPHEMERAL", "I", 13),
            (900002, None, "D", 14),  # later seq: delete wins
        ],
        "s_suppkey long, s_name string, op string, seq long",
    )
    base = sup.select("s_suppkey", "s_name")
    ch = changes.select("s_suppkey", "s_name", "op", "seq")
    return merge_cdc(base, ch, ["s_suppkey"], op_col="op", seq_col="seq")


ORACLE_Q80 = """
with changes(s_suppkey, s_name, op, seq) as (values
  (1, 'UPDATED NAME', 'U', 10),
  (2, NULL, 'D', 11),
  (900001, 'BRAND NEW', 'I', 12),
  (900002, 'EPHEMERAL', 'I', 13),
  (900002, NULL, 'D', 14)),
latest as (
  select s_suppkey, s_name, op
  from (select *, row_number() over (partition by s_suppkey
                                     order by seq desc) rn from changes)
  where rn = 1),
kept as (
  select s.s_suppkey, s.s_name from supplier s
  where s.s_suppkey not in (select s_suppkey from latest))
select cast(s_suppkey as bigint) as s_suppkey, s_name from kept
union all
select cast(s_suppkey as bigint), s_name from latest where op <> 'D'
"""


def q81_char_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language char-trigram profile (ext/textops.char_ngram_profile)
    — the training side of n-gram language-ID; top-20 per language via
    salted two-phase windows."""
    return textops.char_ngram_profile(load(spark, sf_dir, "documents"))


ORACLE_Q81 = """
with grams as (
  select lang, unnest(list_transform(
           generate_series(1, greatest(length(text) - 2, 0)),
           i -> text[i : i + 2])) as gram
  from documents where length(text) >= 3),
freq as (select lang, gram, cast(count(*) as bigint) as freq
         from grams group by lang, gram),
ranked as (
  select lang, gram, freq,
         row_number() over (partition by lang
                            order by freq desc, gram) as rnk
  from freq)
select lang, gram, freq, cast(rnk as bigint) as rnk
from ranked where rnk <= 20
"""


def q82_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (ext/sampling.chunk_documents): 64-token
    windows with 8-token overlap — context-window preparation. One
    narrow map per doc + one posexplode; no per-token explode."""
    return sampling.chunk_documents(load(spark, sf_dir, "documents"))


ORACLE_Q82 = """
with base as (
  select doc_id,
         list_filter(string_split(trim(text), ' '), x -> x <> '') as toks
  from documents),
sized as (select doc_id, toks, len(toks) as n from base where len(toks) > 0),
chunks as (
  select doc_id,
         cast(s.i as bigint) // 56 as chunk_id,
         toks[s.i + 1 : s.i + 64] as ctoks
  from sized, lateral unnest(generate_series(0, greatest(n - 8 - 1, 0), 56)) as s(i))
select doc_id, chunk_id,
       cast(len(ctoks) as bigint) as n_tokens,
       list_aggregate(ctoks, 'string_agg', ' ') as chunk_text
from chunks where len(ctoks) > 0
"""


def q83_hamming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table Hamming join (ext/dedup.hamming_join): odd-key
    suppliers linked to even-key suppliers whose names differ in at
    most ONE character position — the record-linkage shape (new batch
    vs master list); max_dist=1 keeps the gate selective (fixture
    names differ in their trailing digits). Banded candidates, codegen
    verify; the oracle is the exact quadratic cross join, feasible at
    gate SF."""
    sup = load(spark, sf_dir, "supplier")
    l = sup.where("s_suppkey % 2 = 1").select("s_suppkey", "s_name")
    r = sup.where("s_suppkey % 2 = 0").select("s_suppkey", "s_name")
    return dedup.hamming_join(
        l, r, col="s_name", max_dist=1, id_col="s_suppkey"
    )


ORACLE_Q83 = """
select l.s_suppkey as left_id, r.s_suppkey as right_id,
       cast(len(list_filter(
         list_zip(string_split(l.s_name, ''), string_split(r.s_name, '')),
         p -> p[1] is distinct from p[2])) as bigint) as dist
from supplier l join supplier r
  on l.s_suppkey % 2 = 1 and r.s_suppkey % 2 = 0
 and len(l.s_name) = len(r.s_name)
where len(list_filter(
        list_zip(string_split(l.s_name, ''), string_split(r.s_name, '')),
        p -> p[1] is distinct from p[2])) <= 1
"""


def q84_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-filter verdict report (ext/textops.corpus_filter_report):
    per-doc lang/quality/repetition flags, combined keep, and the first
    failing gate as the reason — one codegen map, zero shuffles."""
    return textops.corpus_filter_report(load(spark, sf_dir, "documents"))


ORACLE_Q84 = """
with m as (
  select doc_id, text,
         list_filter(string_split(trim(text), ' '), x -> x <> '') as toks
  from documents),
f as (
  select doc_id,
         len(toks) as n,
         len(list_filter(toks, x -> x in ('the','a','of'))) as stop_cnt,
         len(list_distinct(toks)) as uniq,
         case when len(toks) >= 2
              then len(toks) - 1 else 0 end as n2,
         case when len(toks) >= 2
              then len(list_distinct(list_transform(
                     generate_series(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i + 1])))
              else 0 end as uniq2,
         (text like '% the %' or text like 'the %' or text like '% the')
           as en
  from m),
v as (
  select doc_id,
         cast(case when en then 1 else 0 end as bigint) as is_en,
         cast(case when n >= 20 and n <= 1000
                    and (case when n > 0
                         then cast(stop_cnt as double) / n else 0.0 end) < 0.5
              then 1 else 0 end as bigint) as q_keep,
         cast(case when
                (case when n > 0
                      then 1.0 - cast(uniq as double) / n else 0.0 end) <= 0.6
                and
                (case when n2 > 0
                      then 1.0 - cast(uniq2 as double) / n2 else 0.0 end) <= 0.05
              then 1 else 0 end as bigint) as rep_keep
  from f)
select doc_id, is_en, q_keep, rep_keep,
       cast(case when is_en = 1 and q_keep = 1 and rep_keep = 1
            then 1 else 0 end as bigint) as keep,
       case when is_en = 0 then 'lang'
            when q_keep = 0 then 'quality'
            when rep_keep = 0 then 'repetition' end as reason
from v
"""


def q85_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable KMV approximate-distinct (ext/skew.approx_distinct_kmv):
    distinct users per event type via a k-minimum-values sketch over the
    md5-derived 60-bit hash — unlike q48's HLL++ (engine-internal,
    rows-only), the KMV estimate replays EXACTLY in DuckDB, so the
    approximate answer itself is oracle-checked."""
    from ..ext import skew

    return skew.approx_distinct_kmv(
        load(spark, sf_dir, "events"), "event_type", "user_id", k=64
    )


ORACLE_Q85 = """
with d as (
  select event_type as grp,
         cast('0x' || substring(md5(cast(user_id as varchar)), 1, 15) as bigint) as h
  from events where user_id is not null
  group by 1, 2),
r as (select grp, h, row_number() over (partition by grp order by h) as rn from d)
select grp as event_type,
       cast(case when max(rn) < 64 then max(rn)
            else floor(63.0 * 1152921504606846976.0
                       / max(case when rn = 64 then h end))
            end as bigint) as n_distinct
from r where rn <= 64 group by grp
"""


def q86_ivf_batch_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched IVF ANN (ext/similarity.ivf_search_batch): top-5
    neighbors for 4 query vectors through the seed-centroid index,
    nprobe=3 of 8 clusters — one corpus pass for the whole batch."""
    return similarity.ivf_search_batch(
        load(spark, sf_dir, "embeddings"),
        query_ids=[100, 101, 102, 103],
        k=5,
        nprobe=3,
    )


ORACLE_Q86 = """
with c as (select vec_id as cid,
                  list_transform(embedding, x -> cast(x as double)) as cv
           from embeddings where vec_id < 8),
v as (select vec_id, list_transform(embedding, x -> cast(x as double)) as vv
      from embeddings),
assign as (
  select vec_id, cid as centroid_id from (
    select v.vec_id, c.cid,
           row_number() over (partition by v.vec_id
                              order by list_cosine_similarity(vv, cv) desc, c.cid) rn
    from v, c) where rn = 1),
q as (select vec_id as query_id, vv as qv from v
      where vec_id in (100, 101, 102, 103)),
probes as (
  select query_id, qv, cid from (
    select q.query_id, q.qv, c.cid,
           row_number() over (partition by q.query_id
                              order by list_cosine_similarity(qv, cv) desc, c.cid) pr
    from q, c) where pr <= 3),
scored as (
  select p.query_id, v.vec_id,
         list_cosine_similarity(v.vv, p.qv) as cos
  from v join assign a using (vec_id)
         join probes p on a.centroid_id = p.cid
  where v.vec_id <> p.query_id)
select query_id, vec_id as neighbor_id,
       cast(rn as bigint) as rnk
from (select query_id, vec_id, cos,
             row_number() over (partition by query_id
                                order by cos desc, vec_id) rn
      from scored)
where rn <= 5
"""


def q87_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture planning view (ext/sampling.mixture_report):
    per-source doc/token counts, token share, and delta to a target
    mixture — what a curator reads before setting budget_mix budgets."""
    return sampling.mixture_report(
        load(spark, sf_dir, "documents"),
        "source",
        {"web": 0.5, "wiki": 0.3, "books": 0.2},
    )


ORACLE_Q87 = """
with per as (
  select source as grp,
         cast(count(*) as bigint) as n_docs,
         cast(sum(len(list_filter(string_split(trim(text), ' '),
                                  x -> x <> ''))) as bigint) as n_tokens
  from documents group by source),
tot as (select sum(n_tokens) as t from per)
select grp as source, n_docs, n_tokens,
       cast(n_tokens as double) / cast(t as double) as token_share,
       case grp when 'web' then 0.5 when 'wiki' then 0.3
                when 'books' then 0.2 end as target_share,
       cast(n_tokens as double) / cast(t as double)
         - case grp when 'web' then 0.5 when 'wiki' then 0.3
                    when 'books' then 0.2 end as delta
from per, tot
"""


def q88_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion view -> click -> purchase
    (ext/asof.funnel_conversion): users completing each prefix of the
    funnel in first-occurrence order. One groupBy(user) of conditional
    min-timestamps — no window over raw events, no self-join."""
    from ..ext import asof

    return asof.funnel_conversion(
        load(spark, sf_dir, "events"), ["view", "click", "purchase"]
    )


ORACLE_Q88 = """
with per_user as (
  select user_id,
         min(case when event_type = 'view' then ts end) as t0,
         min(case when event_type = 'click' then ts end) as t1,
         min(case when event_type = 'purchase' then ts end) as t2
  from events group by user_id),
flags as (
  select user_id,
         case when t0 is not null then 1 else 0 end as h1,
         case when t0 is not null and t1 is not null and t1 >= t0
              then 1 else 0 end as h2,
         case when t0 is not null and t1 is not null and t1 >= t0
               and t2 is not null and t2 >= t1 then 1 else 0 end as h3
  from per_user)
select 1 as step_idx, 'view' as step, cast(sum(h1) as bigint) as n_users from flags
union all
select 2, 'click', cast(sum(h2) as bigint) from flags
union all
select 3, 'purchase', cast(sum(h3) as bigint) from flags
"""


def q89_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-grain retention cohorts (ext/asof.retention_cohorts): users
    bucketed by first-seen day, counted on each later active day. One
    distinct pass over raw events; everything after is bounded by
    users x active-days."""
    from ..ext import asof

    return asof.retention_cohorts(load(spark, sf_dir, "events"))


ORACLE_Q89 = """
with daily as (
  select distinct user_id as u, cast(ts as date) as d from events),
first as (select u, min(d) as cohort_day from daily group by u)
select f.cohort_day,
       cast(date_diff('day', f.cohort_day, daily.d) as bigint) as day_offset,
       cast(count(*) as bigint) as n_users
from daily join first f using (u)
group by f.cohort_day, day_offset
"""


def q90_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson PPS sample (ext/sampling.pps_sample): expected-100-doc
    sample with inclusion probability proportional to n_chars, in pure
    int64 arithmetic — the APPROXIMATE-design sample is itself
    oracle-checkable (no ln/pow, unlike A-ES exponential keys)."""
    return sampling.pps_sample(
        load(spark, sf_dir, "documents"), "n_chars", k=100
    )


ORACLE_Q90 = """
with tot as (select sum(cast(n_chars as bigint)) as wt from documents),
s as (
  select doc_id,
         cast(n_chars as bigint) as weight,
         cast(least(cast(1073741824 as bigint),
                    (100 * cast(n_chars as bigint) * 1073741824) // wt)
              as bigint) as keep_threshold,
         cast(cast('0x' || substring(md5('pps|' || cast(doc_id as varchar)),
                                     1, 15) as ubigint) as bigint) >> 30 as u
  from documents, tot)
select doc_id, weight, keep_threshold from s where u < keep_threshold
"""


def q91_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point integer PageRank (ext/graph.pagerank), 3 iterations
    over the bipartite customer->supplier graph induced by orders x
    lineitem. Exact bigint arithmetic makes the iterative ranks replay
    bit-identically in the unrolled-CTE oracle — the float formulation
    could not be hash-compared across engines."""
    from ..ext import graph

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    pr = graph.pagerank(edges, n_iters=3)
    return pr.select("node", F.col("rank").alias("pr_rank"))


ORACLE_Q91 = """
with e as (
  select distinct 'c:' || cast(o_custkey as varchar) as src,
                  's:' || cast(l_suppkey as varchar) as dst
  from orders join lineitem on o_orderkey = l_orderkey),
nodes as (select src as n from e union select dst from e),
deg as (select src, cast(count(*) as bigint) as d from e group by src),
r0 as (select n, cast(1000000000000 as bigint) as r from nodes),
s1 as (select e.dst as n, sum(r0.r // deg.d) as s
       from e join r0 on r0.n = e.src join deg on deg.src = e.src
       group by e.dst),
r1 as (select nodes.n,
              cast(150000000000 + (85 * coalesce(s1.s, 0)) // 100 as bigint) as r
       from nodes left join s1 on s1.n = nodes.n),
s2 as (select e.dst as n, sum(r1.r // deg.d) as s
       from e join r1 on r1.n = e.src join deg on deg.src = e.src
       group by e.dst),
r2 as (select nodes.n,
              cast(150000000000 + (85 * coalesce(s2.s, 0)) // 100 as bigint) as r
       from nodes left join s2 on s2.n = nodes.n),
s3 as (select e.dst as n, sum(r2.r // deg.d) as s
       from e join r2 on r2.n = e.src join deg on deg.src = e.src
       group by e.dst),
r3 as (select nodes.n,
              cast(150000000000 + (85 * coalesce(s3.s, 0)) // 100 as bigint) as r
       from nodes left join s3 on s3.n = nodes.n)
select n as node, r as pr_rank from r3
"""


def q92_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters (ext/skew.heavy_hitters_cms) over
    document tokens: the portable-md5 slot hashes make the APPROXIMATE
    min-of-counters estimates replay bit-exactly in DuckDB (same
    discipline as q85's KMV sketch); exact counts ride along as the
    sketch-error audit."""
    from ..ext import skew

    toks = load(spark, sf_dir, "documents").select(
        F.explode(textops.tokens("text")).alias("tok")
    )
    return skew.heavy_hitters_cms(toks, "tok", k=20)


ORACLE_Q92 = """
with vals as (
  select unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) as val
  from documents),
js as (select unnest([0, 1, 2, 3]) as j),
counters as (
  select j,
         cast(cast('0x' || substring(md5('cms|' || cast(j as varchar) || '|'
                                         || val), 1, 15) as ubigint) as bigint)
           % 1024 as slot,
         cast(count(*) as bigint) as cnt
  from vals cross join js
  group by j, slot),
vocab as (select val, cast(count(*) as bigint) as exact_count
          from vals group by val),
addressed as (
  select val, exact_count, j,
         cast(cast('0x' || substring(md5('cms|' || cast(j as varchar) || '|'
                                         || val), 1, 15) as ubigint) as bigint)
           % 1024 as slot
  from vocab cross join js)
select a.val as value,
       cast(min(c.cnt) as bigint) as est_count,
       a.exact_count
from addressed a join counters c on a.j = c.j and a.slot = c.slot
group by a.val, a.exact_count
order by est_count desc, value
limit 20
"""


def q93_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-free negative sampling (ext/sampling.negative_pairs): 5
    hash-bucketed negatives per 'books' document drawn from the whole
    corpus — no query x corpus cross join."""
    docs = load(spark, sf_dir, "documents")
    return sampling.negative_pairs(
        docs.where(F.col("source") == "src0"), docs, k=5
    )


ORACLE_Q93 = """
with nq as (select cast(count(*) as bigint) as n
            from documents where source = 'src0'),
q as (select doc_id as query_id,
             cast(row_number() over (order by doc_id) as bigint) - 1 as bucket
      from documents where source = 'src0'),
cand as (
  select doc_id as neg_id,
         cast(cast('0x' || substring(md5('neg|' || cast(doc_id as varchar)),
                                     1, 15) as ubigint) as bigint) as h
  from documents),
ranked as (
  select neg_id, h, h % n as bucket,
         row_number() over (partition by h % n order by h, neg_id) as rk
  from cand, nq),
joined as (
  select q.query_id, r.neg_id, r.h
  from ranked r join q on q.bucket = r.bucket
  where r.rk <= 6 and r.neg_id <> q.query_id)
select query_id, neg_id, neg_rank from (
  select query_id, neg_id,
         cast(row_number() over (partition by query_id order by h, neg_id)
              as bigint) as neg_rank
  from joined)
where neg_rank <= 5
"""


def q94_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source shingle-overlap report (ext/textops.source_overlap):
    pairwise Jaccard/containment of the distinct 3-gram sets of each
    source — the corpus-level contamination view."""
    return textops.source_overlap(load(spark, sf_dir, "documents"))


ORACLE_Q94 = """
with docs as (
  select source as grp,
         list_filter(string_split(trim(text), ' '), x -> x <> '') as toks
  from documents),
docs3 as (select * from docs where len(toks) >= 3),
sh as (
  select distinct grp, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] as s
  from docs3, unnest(range(1, len(toks) - 1)) t(i)),
per as (select grp, cast(count(*) as bigint) as n_sh from sh group by grp),
inter as (
  select a.grp as grp_a, b.grp as grp_b, cast(count(*) as bigint) as inter
  from sh a join sh b on a.s = b.s and a.grp < b.grp
  group by 1, 2)
select grp_a, grp_b, pa.n_sh as n_a, pb.n_sh as n_b, inter,
       cast(inter as double) / cast(pa.n_sh + pb.n_sh - inter as double)
         as jaccard,
       cast(inter as double) / cast(least(pa.n_sh, pb.n_sh) as double)
         as containment
from inter
join per pa on pa.grp = grp_a
join per pb on pb.grp = grp_b
"""


def q95_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain time rollup (ext/asof.time_rollup): hour+day+week
    buckets of events in ONE scan/one shuffle — the hypertable
    continuous-aggregate shape."""
    from ..ext import asof

    return asof.time_rollup(load(spark, sf_dir, "events"))


ORACLE_Q95 = """
with v as (select ts, cast(value as decimal(12,2)) as v from events)
select 'hour' as grain, date_trunc('hour', ts) as bucket_ts,
       count(*) as cnt, cast(sum(v) as double) as sum_value,
       cast(min(v) as double) as min_value, cast(max(v) as double) as max_value
from v group by 2
union all
select 'day', date_trunc('day', ts), count(*), cast(sum(v) as double),
       cast(min(v) as double), cast(max(v) as double)
from v group by 2
union all
select 'week', date_trunc('week', ts), count(*), cast(sum(v) as double),
       cast(min(v) as double), cast(max(v) as double)
from v group by 2
"""


def q96_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user first-order Markov transitions
    (ext/asof.event_transitions): P(next event type | current)."""
    from ..ext import asof

    return asof.event_transitions(load(spark, sf_dir, "events"))


ORACLE_Q96 = """
with seq as (
  select event_type as next_type,
         lag(event_type) over (partition by user_id
                               order by ts, event_id) as prev_type
  from events),
pairs as (
  select prev_type, next_type, cast(count(*) as bigint) as n
  from seq where prev_type is not null
  group by 1, 2),
tot as (select prev_type, sum(n) as t from pairs group by 1)
select p.prev_type, p.next_type, p.n,
       cast(p.n as double) / cast(t.t as double) as prob
from pairs p join tot t using (prev_type)
"""


def q97_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust MAD outliers (ext/features.mad_outliers): per-event-type
    |x - median| > 3 * 1.4826 * MAD — exact percentiles, so the robust
    gate replays bit-exactly (q47 equivalence)."""
    from ..ext import features

    return features.mad_outliers(
        load(spark, sf_dir, "events"), "event_type", "value", "event_id"
    )


ORACLE_Q97 = """
with med as (
  select event_type, quantile_cont(cast(value as double), 0.5) as med
  from events group by event_type),
dev as (
  select e.event_id, e.event_type, cast(e.value as double) as value, m.med,
         abs(cast(e.value as double) - m.med) as adev
  from events e join med m using (event_type)),
mad as (select event_type, quantile_cont(adev, 0.5) as mad
        from dev group by event_type)
select d.event_id, d.event_type, d.value, d.med, a.mad
from dev d join mad a using (event_type)
where d.adev > 3.0 * 1.4826 * a.mad
"""


def q98_sampled_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile profile on a deterministic hash sample
    (ext/skew.sampled_quantiles): the portable-sketch answer to
    approx_percentile — approximate by design, bit-replayable by
    construction."""
    from ..ext import skew

    return skew.sampled_quantiles(
        load(spark, sf_dir, "events"), "event_type", "value", "event_id"
    )


_Q98_THR = int(0.2 * float(2**60))  # the identical literal lands in both plans

ORACLE_Q98 = f"""
with s as (
  select event_type, cast(value as double) as v
  from events
  where cast(cast('0x' || substring(md5('sq|' || cast(event_id as varchar)),
                                    1, 15) as ubigint) as bigint)
        < {_Q98_THR})
select event_type, cast(count(*) as bigint) as n_sampled,
       quantile_cont(v, 0.25) as p25, quantile_cont(v, 0.5) as p50,
       quantile_cont(v, 0.75) as p75, quantile_cont(v, 0.95) as p95
from s group by event_type
"""


def q99_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index over documents (ext/textops.inverted_index):
    token -> (doc_freq, coll_freq, sorted postings), min_df=2. (The
    max_df stop-list valve stays default-off here: the fixture
    vocabulary is small, so capping df would empty the gate; the
    library exposes it for real corpora.) The library returns
    `postings` as array<string>; the gate renders it '|'-joined so the
    driver harness can hash it."""
    return textops.inverted_index(
        load(spark, sf_dir, "documents"), min_df=2
    ).withColumn("postings", F.array_join("postings", "|"))


ORACLE_Q99 = """
with t as (
  select doc_id as d,
         unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) as tok
  from documents),
per_doc as (
  select tok, d, cast(count(*) as bigint) as tf from t group by tok, d),
idx as (
  select tok as token,
         cast(count(*) as bigint) as doc_freq,
         cast(sum(tf) as bigint) as coll_freq,
         list_aggr(list_sort(list(cast(d as varchar) || ':' ||
                                  cast(tf as varchar))),
                   'string_agg', '|') as postings
  from per_doc group by tok)
select * from idx where doc_freq >= 2
"""
