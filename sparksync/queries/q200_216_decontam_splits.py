"""Decontamination + split governance: LM surprisal/DSIR, winnowing, shared-run trims, leakage-safe splits, caps.

Verbatim slice of the pre-split sparksync/queries.py (band q200-q216).
"""

from __future__ import annotations

from ._base import *  # noqa: F401,F403 — shared fixture/session surface
from ._base import _dec, _register_views  # noqa: F401

from .q018_049_llm_ext import ORACLE_Q49  # noqa: F401


def q200_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM surprisal filter (ext/textops.ngram_lm_score) — the
    CCNet/KenLM quality-gate shape: add-one-smoothed bigram LM over a
    capped top-512 vocabulary ('<unk>' elsewhere), top-20 most
    improbable docs. The gate runs mode='fixed' (the q60/q118 no-libm
    discipline: per-bigram reciprocal likelihood in exact int64 fixed
    point, one double division per doc, so even the double score
    replays bit-for-bit); production default is standard ln
    perplexity."""
    return textops.ngram_lm_score(
        load(spark, sf_dir, "documents"), mode="fixed"
    )


ORACLE_Q200 = """
with docs as (
  select doc_id,
         list_filter(string_split(trim(text), ' '), x -> x <> '') as toks
  from documents),
d2 as (select doc_id, toks from docs where len(toks) >= 2),
tok as (
  select doc_id, i as pos, toks[i] as tok
  from d2, unnest(range(1, len(toks) + 1)) t(i)),
uni as (select tok, count(*) as freq from tok group by 1),
vocab as (select tok from uni order by freq desc, tok limit 512),
mapped as (
  select t.doc_id, t.pos,
         case when v.tok is not null then t.tok else '<unk>' end as w
  from tok t left join vocab v on t.tok = v.tok),
big as (
  select doc_id, w,
         lead(w) over (partition by doc_id order by pos) as w2
  from mapped),
stats as (
  select doc_id, cast(count(*) as bigint) as n_tokens,
         cast(sum(case when w = '<unk>' then 1 else 0 end) as bigint) as n_unk
  from big group by 1),
types as (
  select doc_id, w, w2, cast(count(*) as bigint) as k
  from big where w2 is not null group by 1, 2, 3),
c12 as (select w, w2, cast(sum(k) as bigint) as c12 from types group by 1, 2),
c1 as (select w, cast(sum(c12) as bigint) as c1 from c12 group by 1),
vsz as (select cast(count(*) + 1 as bigint) as veff from vocab),
terms as (
  select t.doc_id,
         t.k * (((c.c1 + vsz.veff) * 1048576) // (b.c12 + 1)) as term,
         t.k
  from types t
  join c12 b on t.w = b.w and t.w2 = b.w2
  join c1 c on t.w = c.w
  cross join vsz),
perdoc as (
  select doc_id, cast(sum(term) as bigint) as sum_fp,
         cast(sum(k) as bigint) as n_bigrams
  from terms group by 1)
select s.doc_id, s.n_tokens, s.n_unk, p.n_bigrams,
       cast(p.sum_fp as double) / cast(p.n_bigrams * 1048576 as double)
         as lm_surprisal
from stats s join perdoc p on s.doc_id = p.doc_id
order by lm_surprisal desc, s.doc_id
limit 20
"""


def q201_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing near-dup pairs (ext/dedup.winnow_overlap_pairs): MOSS
    fingerprints — each 4-window's minimum over the ordered 3-gram
    md5-portable hash stream — self-joined into the top-20 pairs by
    shared fingerprint count. Every shared run of >= 6 tokens is
    guaranteed represented; output is all exact integers (d1, d2,
    n_shared)."""
    return dedup.winnow_overlap_pairs(
        load(spark, sf_dir, "documents"), k=3, w=4, min_shared=2, limit=20
    )


ORACLE_Q201 = """
with docs as (
  select doc_id,
         list_filter(string_split(trim(text), ' '), x -> x <> '') as toks
  from documents),
dk as (
  select doc_id, toks, len(toks) - 2 as m
  from docs where len(toks) >= 3),
h as (
  select doc_id, m, i as pos,
         cast(cast('0x' || substring(md5(
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         ), 1, 15) as ubigint) as bigint) as h
  from dk, unnest(range(1, m + 1)) t(i)),
wmin as (
  select doc_id, m, pos,
         min(h) over (partition by doc_id order by pos
                      rows between current row and 3 following) as fp
  from h),
fps as (
  select distinct doc_id, fp
  from wmin where pos <= greatest(m - 3, 1)),
pairs as (
  select a.doc_id as d1, b.doc_id as d2,
         cast(count(*) as bigint) as n_shared
  from fps a join fps b on a.fp = b.fp and a.doc_id < b.doc_id
  group by 1, 2)
select d1, d2, n_shared from pairs where n_shared >= 2
order by n_shared desc, d1, d2
limit 20
"""


def q202_target_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped importance scoring (ext/textops.lm_target_affinity):
    target LM (lang='en') and raw LM from ONE shared bigram pipeline
    over a shared capped vocabulary, every doc scored by how much
    better the target model predicts it; top-20 most target-like. The
    gate runs
    mode='fixed' (exact int64 reciprocal-likelihood difference, one
    double division per doc); production default is the ln
    geometric-mean likelihood ratio — the DSIR importance weight."""
    return textops.lm_target_affinity(
        load(spark, sf_dir, "documents"),
        F.col("lang") == "en",
        mode="fixed",
    )


ORACLE_Q202 = """
with docs as (
  select doc_id, lang = 'en' as tgt,
         list_filter(string_split(trim(text), ' '), x -> x <> '') as toks
  from documents),
d2 as (select doc_id, tgt, toks from docs where len(toks) >= 2),
tok as (
  select doc_id, tgt, i as pos, toks[i] as tok
  from d2, unnest(range(1, len(toks) + 1)) t(i)),
uni as (select tok, count(*) as freq from tok group by 1),
vocab as (select tok from uni order by freq desc, tok limit 512),
mapped as (
  select t.doc_id, t.tgt, t.pos,
         case when v.tok is not null then t.tok else '<unk>' end as w
  from tok t left join vocab v on t.tok = v.tok),
big as (
  select doc_id, tgt, w,
         lead(w) over (partition by doc_id order by pos) as w2
  from mapped),
types as (
  select doc_id, tgt, w, w2, cast(count(*) as bigint) as k
  from big where w2 is not null group by 1, 2, 3, 4),
c12 as (
  select w, w2, cast(sum(k) as bigint) as c12r,
         cast(sum(case when tgt then k else 0 end) as bigint) as c12t
  from types group by 1, 2),
c1 as (
  select w, cast(sum(c12r) as bigint) as c1r,
         cast(sum(c12t) as bigint) as c1t
  from c12 group by 1),
vsz as (select cast(count(*) + 1 as bigint) as veff from vocab),
terms as (
  select t.doc_id, t.tgt,
         t.k * ((((c.c1r + vsz.veff) * 1048576) // (b.c12r + 1))
                - (((c.c1t + vsz.veff) * 1048576) // (b.c12t + 1))) as term,
         t.k
  from types t
  join c12 b on t.w = b.w and t.w2 = b.w2
  join c1 c on t.w = c.w
  cross join vsz),
perdoc as (
  select doc_id, tgt, cast(sum(term) as bigint) as sum_fp,
         cast(sum(k) as bigint) as n_bigrams
  from terms group by 1, 2)
select doc_id, tgt as is_target, n_bigrams,
       cast(sum_fp as double) / cast(n_bigrams * 1048576 as double)
         as target_affinity
from perdoc
order by target_affinity desc, doc_id
limit 20
"""


def q203_lm_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out LM drift monitor (ext/textops.lm_score_against_model):
    the census-once/score-later production split — vocabulary and
    bigram model frozen from the source<>'src0' slice
    (lm_vocab_census + lm_bigram_counts, a bounded <= 512-row vocab
    collect), every document scored against that EXTERNAL model.
    Unseen bigrams ride the LEFT join's zero-filled counts; top-20
    most surprising docs. Gate mode='fixed' (exact int64, one double
    division per doc); production is ln perplexity."""
    from pyspark.sql import functions as _F

    docs = load(spark, sf_dir, "documents")
    train = docs.where(_F.col("source") != "src0")
    vocab = [
        r.tok
        for r in textops.lm_vocab_census(train).orderBy("rnk").collect()
    ]
    counts = textops.lm_bigram_counts(train, vocab)
    return textops.lm_score_against_model(docs, counts, vocab, mode="fixed")


ORACLE_Q203 = """
with alld as (
  select doc_id, source,
         list_filter(string_split(trim(text), ' '), x -> x <> '') as toks
  from documents),
a2 as (select doc_id, source, toks from alld where len(toks) >= 2),
tok as (
  select doc_id, source, i as pos, toks[i] as tok
  from a2, unnest(range(1, len(toks) + 1)) t(i)),
tuni as (
  select tok, count(*) as freq from tok where source <> 'src0' group by 1),
vocab as (select tok from tuni order by freq desc, tok limit 512),
vsz as (select cast(count(*) + 1 as bigint) as veff from vocab),
mapped as (
  select t.doc_id, t.source, t.pos,
         case when v.tok is not null then t.tok else '<unk>' end as w
  from tok t left join vocab v on t.tok = v.tok),
big as (
  select doc_id, source, w,
         lead(w) over (partition by doc_id order by pos) as w2
  from mapped),
c12 as (
  select w, w2, cast(count(*) as bigint) as c12
  from big where w2 is not null and source <> 'src0' group by 1, 2),
c1 as (select w, cast(sum(c12) as bigint) as c1 from c12 group by 1),
stats as (
  select doc_id, cast(count(*) as bigint) as n_tokens,
         cast(sum(case when w = '<unk>' then 1 else 0 end) as bigint) as n_unk
  from big group by 1),
types as (
  select doc_id, w, w2, cast(count(*) as bigint) as k
  from big where w2 is not null group by 1, 2, 3),
terms as (
  select t.doc_id,
         t.k * (((coalesce(c.c1, 0) + vsz.veff) * 1048576)
                // (coalesce(b.c12, 0) + 1)) as term,
         t.k
  from types t
  left join c12 b on t.w = b.w and t.w2 = b.w2
  left join c1 c on t.w = c.w
  cross join vsz),
perdoc as (
  select doc_id, cast(sum(term) as bigint) as sum_fp,
         cast(sum(k) as bigint) as n_bigrams
  from terms group by 1)
select s.doc_id, s.n_tokens, s.n_unk, p.n_bigrams,
       cast(p.sum_fp as double) / cast(p.n_bigrams * 1048576 as double)
         as lm_surprisal
from stats s join perdoc p on s.doc_id = p.doc_id
order by lm_surprisal desc, s.doc_id
limit 20
"""


def q204_winnow_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed winnowing dedup capstone (ext/dedup.
    dedup_decision_report over winnow_overlap_pairs): MOSS fingerprints
    (each 8-window's minimum over the ordered 5-gram md5-portable hash
    stream) -> >= 3 shared fingerprints -> ONE connected-components
    pass -> the full sign-off artifact: corpus topline, per-source
    survivorship, cluster-size histogram, cross-source matrix AND the
    per-document keeper decision (highest n_chars, ties to smallest
    id), in one long-format job. The position-robust pair source
    reaching the same decision path the MinHash capstones use —
    VERDICT r9 #1."""
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.winnow_overlap_pairs(
        docs, k=5, w=8, min_shared=3
    )
    return dedup.dedup_decision_report(docs, pairs, quality_col="n_chars")


ORACLE_Q204 = """
with recursive
docs as (
  select doc_id,
         list_filter(string_split(trim(text), ' '), x -> x <> '') as toks
  from documents),
dk as (
  select doc_id, toks, len(toks) - 4 as m
  from docs where len(toks) >= 5),
h as (
  select doc_id, m, i as pos,
         cast(cast('0x' || substring(md5(
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
             toks[i+3] || ' ' || toks[i+4]
         ), 1, 15) as ubigint) as bigint) as h
  from dk, unnest(range(1, m + 1)) t(i)),
wmin as (
  select doc_id, m, pos,
         min(h) over (partition by doc_id order by pos
                      rows between current row and 7 following) as fp
  from h),
fps as (
  select distinct doc_id, fp
  from wmin where pos <= greatest(m - 7, 1)),
prs as (
  select a.doc_id as d1, b.doc_id as d2, cast(count(*) as bigint) as ns
  from fps a join fps b on a.fp = b.fp and a.doc_id < b.doc_id
  group by 1, 2),
pairs as (select d1, d2 from prs where ns >= 3),
edges as (select d1 as a, d2 as b from pairs
          union all select d2, d1 from pairs),
reach(a, b) as (
  select a, b from edges
  union
  select r.a, e.b from reach r join edges e on r.b = e.a),
nodes as (select distinct a as node from edges),
cc as (
  select n.node as doc_id, least(n.node, min(r.b)) as keep_id
  from nodes n left join reach r on r.a = n.node
  group by n.node),
base as (
  select d.doc_id, d.source, cc.keep_id
  from documents d left join cc on cc.doc_id = d.doc_id),
surv as (
  select source as key_a,
         cast(count(*) as bigint) as n1,
         cast(sum(case when keep_id is not null then 1 else 0 end)
              as bigint) as n2,
         cast(sum(case when keep_id is not null and keep_id <> doc_id
                       then 1 else 0 end) as bigint) as n3
  from base group by 1),
csz as (select keep_id, cast(count(*) as bigint) as sz from cc group by 1),
hist as (
  select case when sz <= 2 then '2' when sz <= 5 then '3-5'
              when sz <= 10 then '6-10' else '>10' end as key_a,
         cast(count(*) as bigint) as n1,
         cast(sum(sz) as bigint) as n2
  from csz group by 1),
xs as (
  select least(s1.source, s2.source) as key_a,
         greatest(s1.source, s2.source) as key_b,
         cast(count(*) as bigint) as n1
  from pairs p
  join documents s1 on s1.doc_id = p.d1
  join documents s2 on s2.doc_id = p.d2
  group by 1, 2),
labeled as (
  select d.doc_id, cast(d.n_chars as bigint) as quality,
         coalesce(c.keep_id, d.doc_id) as cluster_id
  from documents d left join cc c using (doc_id)),
ranked as (
  select *, row_number() over (partition by cluster_id
                               order by quality desc, doc_id asc) as rn,
         count(*) over (partition by cluster_id) as nm
  from labeled)
select 'topline' as section, 'corpus' as key_a,
       cast(null as varchar) as key_b,
       cast(sum(n1) as bigint) as n1, cast(sum(n2) as bigint) as n2,
       cast(sum(n3) as bigint) as n3,
       cast(sum(n3) as double) / cast(sum(n1) as double) as share
from surv
union all
select 'survivorship', key_a, cast(null as varchar), n1, n2, n3,
       cast(n3 as double) / cast(n1 as double)
from surv
union all
select 'cluster_histogram', key_a, cast(null as varchar), n1, n2,
       cast(null as bigint), cast(null as double)
from hist
union all
select 'cross_source', key_a, key_b, n1, cast(null as bigint),
       cast(null as bigint), cast(null as double)
from xs
union all
select 'keeper', cast(doc_id as varchar), cast(cluster_id as varchar),
       quality, cast(nm as bigint),
       cast(case when rn = 1 then 1 else 0 end as bigint),
       cast(null as double)
from ranked
"""


def q205_shared_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact longest-shared-token-run pairs (ext/dedup.
    shared_run_pairs): the Lee et al. exact-substring dedup criterion
    measured for real — winnowing candidates (whose guarantee means no
    >= w+k-1 = 12-token shared run can escape the candidate set), then
    the diagonal-streak construction turns shared 5-gram positions
    into maximal contiguous spans. Top-20 pairs by longest exact run;
    all exact integers."""
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.winnow_overlap_pairs(docs, k=5, w=8, min_shared=3)
    return dedup.shared_run_pairs(
        docs, pairs, k=5, min_run=12, limit=20
    )


ORACLE_Q205 = """
with
docs as (
  select doc_id,
         list_filter(string_split(trim(text), ' '), x -> x <> '') as toks
  from documents),
dk as (
  select doc_id, toks, len(toks) - 4 as m
  from docs where len(toks) >= 5),
h as (
  select doc_id, m, i as pos,
         cast(cast('0x' || substring(md5(
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
             toks[i+3] || ' ' || toks[i+4]
         ), 1, 15) as ubigint) as bigint) as h
  from dk, unnest(range(1, m + 1)) t(i)),
wmin as (
  select doc_id, m, pos,
         min(h) over (partition by doc_id order by pos
                      rows between current row and 7 following) as fp
  from h),
fps as (
  select distinct doc_id, fp
  from wmin where pos <= greatest(m - 7, 1)),
prs as (
  select a.doc_id as d1, b.doc_id as d2, count(*) as ns
  from fps a join fps b on a.fp = b.fp and a.doc_id < b.doc_id
  group by 1, 2),
pairs as (select d1, d2 from prs where ns >= 3),
-- mirror of the engine's max_gram_freq=64 degenerate-doc cap
-- (ext/dedup._run_streaks): (doc, gram) groups repeating more than
-- 64x within ONE document are pruned from the match join (never from
-- the winnow fingerprints above), so gate and oracle share semantics
hc as (
  select doc_id, pos, h from (
    select doc_id, pos, h,
           count(*) over (partition by doc_id, h) as gf
    from h)
  where gf <= 64),
mtch as (
  select p.d1, p.d2, h1.pos as i, h1.pos - h2.pos as diag
  from pairs p
  join hc h1 on h1.doc_id = p.d1
  join hc h2 on h2.doc_id = p.d2 and h2.h = h1.h),
st as (
  select d1, d2, diag,
         i - row_number() over (partition by d1, d2, diag order by i) as grp
  from mtch),
runs as (
  select d1, d2, diag, grp, cast(count(*) + 4 as bigint) as run
  from st group by 1, 2, 3, 4),
q as (
  select d1, d2, cast(max(run) as bigint) as longest_run,
         cast(count(*) as bigint) as n_runs
  from runs where run >= 12 group by 1, 2)
select d1, d2, longest_run, n_runs from q
order by longest_run desc, d1, d2
limit 20
"""


def q206_trim_shared_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decision half of the exact-substring rule (ext/dedup.
    trim_shared_runs): every >= 12-token run shared verbatim between
    two documents is CUT from the higher-id copy (winnow candidates
    make the detection exact at >= w+k-1 = 12), overlapping victim
    spans island-merged, each document rebuilt from its surviving
    tokens. One row per input document: (doc_id, n_tokens, n_trimmed,
    new_text) — the corpus AFTER the Lee et al. trim."""
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.winnow_overlap_pairs(docs, k=5, w=8, min_shared=3)
    return dedup.trim_shared_runs(docs, pairs, k=5, min_run=12)


ORACLE_Q206 = """
with
docs as (
  select doc_id,
         list_filter(string_split(trim(text), ' '), x -> x <> '') as toks
  from documents),
dk as (
  select doc_id, toks, len(toks) - 4 as m
  from docs where len(toks) >= 5),
h as (
  select doc_id, m, i as pos,
         cast(cast('0x' || substring(md5(
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
             toks[i+3] || ' ' || toks[i+4]
         ), 1, 15) as ubigint) as bigint) as h
  from dk, unnest(range(1, m + 1)) t(i)),
wmin as (
  select doc_id, m, pos,
         min(h) over (partition by doc_id order by pos
                      rows between current row and 7 following) as fp
  from h),
fps as (
  select distinct doc_id, fp
  from wmin where pos <= greatest(m - 7, 1)),
prs as (
  select a.doc_id as d1, b.doc_id as d2, count(*) as ns
  from fps a join fps b on a.fp = b.fp and a.doc_id < b.doc_id
  group by 1, 2),
pairs as (select d1, d2 from prs where ns >= 3),
-- mirror of the engine's max_gram_freq=64 cap (see ORACLE_Q205)
hc as (
  select doc_id, pos, h from (
    select doc_id, pos, h,
           count(*) over (partition by doc_id, h) as gf
    from h)
  where gf <= 64),
mtch as (
  select p.d1, p.d2, h1.pos as i, h1.pos - h2.pos as diag
  from pairs p
  join hc h1 on h1.doc_id = p.d1
  join hc h2 on h2.doc_id = p.d2 and h2.h = h1.h),
st as (
  select d1, d2, diag, i,
         i - row_number() over (partition by d1, d2, diag order by i) as grp
  from mtch),
runs as (
  select d1, d2, diag, grp, min(i) - diag as jmin,
         cast(count(*) + 4 as bigint) as run
  from st group by 1, 2, 3, 4),
spans as (
  select d2 as doc_id, jmin as s, jmin + run - 1 as e
  from runs where run >= 12),
tokpos as (
  select doc_id, i as pos, toks[i] as tok
  from docs, unnest(range(1, len(toks) + 1)) t(i)),
kept as (
  select t.doc_id, t.pos, t.tok
  from tokpos t
  where not exists (
    select 1 from spans s
    where s.doc_id = t.doc_id and t.pos between s.s and s.e)),
agg as (
  select doc_id, cast(count(*) as bigint) as n_kept,
         string_agg(tok, ' ' order by pos) as new_text
  from kept group by 1)
select d.doc_id, cast(len(d.toks) as bigint) as n_tokens,
       cast(len(d.toks) - coalesce(a.n_kept, 0) as bigint) as n_trimmed,
       coalesce(a.new_text, '') as new_text
from docs d left join agg a using (doc_id)
"""


def q207_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-span decontamination (ext/dedup.decontaminate_runs): the
    source='src0' slice plays the benchmark, everything else the
    training corpus; every training doc sharing a >= 12-token
    VERBATIM run with any benchmark doc is flagged with the actual
    maximal overlap. min_shared=1 + the winnow guarantee make
    detection exact at this threshold — no contaminated pair can
    escape the candidate set. All contaminated pairs, exact
    integers."""
    docs = load(spark, sf_dir, "documents")
    bench = docs.where(F.col("source") == "src0").select("doc_id", "text")
    train = docs.where(F.col("source") != "src0").select("doc_id", "text")
    return dedup.decontaminate_runs(train, bench, min_run=12)


ORACLE_Q207 = """
with
docs as (
  select doc_id, source,
         list_filter(string_split(trim(text), ' '), x -> x <> '') as toks
  from documents),
dk as (
  select doc_id, source, toks, len(toks) - 4 as m
  from docs where len(toks) >= 5),
h as (
  select doc_id, source, m, i as pos,
         cast(cast('0x' || substring(md5(
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
             toks[i+3] || ' ' || toks[i+4]
         ), 1, 15) as ubigint) as bigint) as h
  from dk, unnest(range(1, m + 1)) t(i)),
wmin as (
  select doc_id, source, m, pos,
         min(h) over (partition by doc_id order by pos
                      rows between current row and 7 following) as fp
  from h),
fps as (
  select distinct doc_id, source, fp
  from wmin where pos <= greatest(m - 7, 1)),
pairs as (
  select distinct a.doc_id as bid, b.doc_id as tid
  from fps a
  join fps b on a.fp = b.fp
  where a.source = 'src0' and b.source <> 'src0'),
-- mirror of the engine's max_gram_freq=64 cap (see ORACLE_Q205);
-- both the benchmark and training sides are capped, as in
-- decontaminate_runs' union before _run_streaks
hc as (
  select doc_id, pos, h from (
    select doc_id, pos, h,
           count(*) over (partition by doc_id, h) as gf
    from h)
  where gf <= 64),
mtch as (
  select p.bid, p.tid, h1.pos as i, h1.pos - h2.pos as diag
  from pairs p
  join hc h1 on h1.doc_id = p.bid
  join hc h2 on h2.doc_id = p.tid and h2.h = h1.h),
st as (
  select bid, tid, diag, i,
         i - row_number() over (partition by bid, tid, diag order by i)
           as grp
  from mtch),
runs as (
  select bid, tid, diag, grp, cast(count(*) + 4 as bigint) as run
  from st group by 1, 2, 3, 4)
select bid as bench_id, tid as doc_id,
       cast(max(run) as bigint) as longest_run,
       cast(count(*) as bigint) as n_runs
from runs where run >= 12
group by 1, 2
"""


def q208_decontaminate_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination REMOVAL (ext/dedup.decontaminate_trim, new in
    round 11): q207 flags the contaminated (benchmark, training)
    pairs; this executes the policy — every >= 12-token verbatim
    benchmark span is CUT from the training copy (islands merged, the
    GPT-3-appendix window-removal shape rather than whole-doc drops),
    the benchmark side untouched. One row per TRAINING document
    (doc_id, n_tokens, n_trimmed, new_text): the training corpus
    AFTER decontamination."""
    docs = load(spark, sf_dir, "documents")
    bench = docs.where(F.col("source") == "src0").select("doc_id", "text")
    train = docs.where(F.col("source") != "src0").select("doc_id", "text")
    return dedup.decontaminate_trim(train, bench, min_run=12)


ORACLE_Q208 = """
with
docs as (
  -- coalesce mirrors the engine's NULL-text contract (_trim_by_spans
  -- treats NULL text as zero tokens; ADVICE r11 #4) so a NULL-text row
  -- yields n_tokens=0 rather than NULL
  select doc_id, source,
         list_filter(string_split(trim(coalesce(text, '')), ' '),
                     x -> x <> '') as toks
  from documents),
train as (select doc_id, toks from docs where source <> 'src0'),
dk as (
  select doc_id, source, toks, len(toks) - 4 as m
  from docs where len(toks) >= 5),
h as (
  select doc_id, source, m, i as pos,
         cast(cast('0x' || substring(md5(
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
             toks[i+3] || ' ' || toks[i+4]
         ), 1, 15) as ubigint) as bigint) as h
  from dk, unnest(range(1, m + 1)) t(i)),
wmin as (
  select doc_id, source, m, pos,
         min(h) over (partition by doc_id order by pos
                      rows between current row and 7 following) as fp
  from h),
fps as (
  select distinct doc_id, source, fp
  from wmin where pos <= greatest(m - 7, 1)),
pairs as (
  select distinct a.doc_id as bid, b.doc_id as tid
  from fps a
  join fps b on a.fp = b.fp
  where a.source = 'src0' and b.source <> 'src0'),
-- mirror of the engine's max_gram_freq=64 cap (see ORACLE_Q205)
hc as (
  select doc_id, pos, h from (
    select doc_id, pos, h,
           count(*) over (partition by doc_id, h) as gf
    from h)
  where gf <= 64),
mtch as (
  select p.bid, p.tid, h1.pos as i, h1.pos - h2.pos as diag
  from pairs p
  join hc h1 on h1.doc_id = p.bid
  join hc h2 on h2.doc_id = p.tid and h2.h = h1.h),
st as (
  select bid, tid, diag, i,
         i - row_number() over (partition by bid, tid, diag order by i)
           as grp
  from mtch),
runs as (
  select bid, tid, diag, grp, min(i) - diag as jmin,
         cast(count(*) + 4 as bigint) as run
  from st group by 1, 2, 3, 4),
spans as (
  select tid as doc_id, jmin as s, jmin + run - 1 as e
  from runs where run >= 12),
tokpos as (
  select doc_id, i as pos, toks[i] as tok
  from train, unnest(range(1, len(toks) + 1)) t(i)),
kept as (
  select t.doc_id, t.pos, t.tok
  from tokpos t
  where not exists (
    select 1 from spans s
    where s.doc_id = t.doc_id and t.pos between s.s and s.e)),
agg as (
  select doc_id, cast(count(*) as bigint) as n_kept,
         string_agg(tok, ' ' order by pos) as new_text
  from kept group by 1)
select d.doc_id, cast(len(d.toks) as bigint) as n_tokens,
       cast(len(d.toks) - coalesce(a.n_kept, 0) as bigint) as n_trimmed,
       coalesce(a.new_text, '') as new_text
from train d left join agg a using (doc_id)
"""


def q209_self_trim_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document exact-substring trim (ext/dedup.
    self_trim_repeats, X205): every later occurrence of a >= 3-token
    span already seen EARLIER in the same document is cut, the first
    occurrence kept — the intra-doc half of the Lee et al. rule and
    the ACT twin of q54's repetition measurement. Params pinned at
    k=2, min_run=3: the synthetic corpus's within-doc repetition is
    short token stutter ('batch batch batch batch'), so this is the
    signal range where the fixture actually exercises the trim
    (production defaults are k=5, min_run=8, matching
    trim_shared_runs). One row per input document."""
    return dedup.self_trim_repeats(
        load(spark, sf_dir, "documents"), k=2, min_run=3
    )


ORACLE_Q209 = """
with
docs as (
  -- coalesce mirrors the engine's NULL-text contract (ADVICE r11 #4)
  select doc_id,
         list_filter(string_split(trim(coalesce(text, '')), ' '),
                     x -> x <> '') as toks
  from documents),
dk as (
  select doc_id, toks, len(toks) - 1 as m
  from docs where len(toks) >= 2),
h as (
  select doc_id, i as pos,
         cast(cast('0x' || substring(md5(
             toks[i] || ' ' || toks[i+1]
         ), 1, 15) as ubigint) as bigint) as h
  from dk, unnest(range(1, m + 1)) t(i)),
-- mirror of the engine's max_gram_freq=64 cap (see ORACLE_Q205)
hc as (
  select doc_id, pos, h from (
    select doc_id, pos, h,
           count(*) over (partition by doc_id, h) as gf
    from h)
  where gf <= 64),
mtch as (
  select a.doc_id, b.pos as j, b.pos - a.pos as diag
  from hc a
  join hc b on a.doc_id = b.doc_id and a.h = b.h and a.pos < b.pos),
st as (
  select doc_id, diag, j,
         j - row_number() over (partition by doc_id, diag order by j)
           as grp
  from mtch),
runs as (
  select doc_id, diag, grp, min(j) as jmin,
         cast(count(*) + 1 as bigint) as run
  from st group by 1, 2, 3),
spans as (
  select doc_id, jmin as s, jmin + run - 1 as e
  from runs where run >= 3),
tokpos as (
  select doc_id, i as pos, toks[i] as tok
  from docs, unnest(range(1, len(toks) + 1)) t(i)),
kept as (
  select t.doc_id, t.pos, t.tok
  from tokpos t
  where not exists (
    select 1 from spans s
    where s.doc_id = t.doc_id and t.pos between s.s and s.e)),
agg as (
  select doc_id, cast(count(*) as bigint) as n_kept,
         string_agg(tok, ' ' order by pos) as new_text
  from kept group by 1)
select d.doc_id, cast(len(d.toks) as bigint) as n_tokens,
       cast(len(d.toks) - coalesce(a.n_kept, 0) as bigint) as n_trimmed,
       coalesce(a.new_text, '') as new_text
from docs d left join agg a using (doc_id)
"""


def q210_benchmark_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-benchmark-doc contamination report (ext/dedup.
    benchmark_coverage, X206): q207 flags the contaminated (benchmark,
    training) pairs; this inverts the view to the EVAL OWNER's
    question — for every benchmark document (the source='src0' slice),
    how many training docs quote it verbatim (>= 12 tokens), the
    longest quote, and the fraction of its own tokens covered by the
    island-merged union of all quotes. One row per benchmark doc,
    clean ones at zero."""
    docs = load(spark, sf_dir, "documents")
    bench = docs.where(F.col("source") == "src0").select("doc_id", "text")
    train = docs.where(F.col("source") != "src0").select("doc_id", "text")
    return dedup.benchmark_coverage(train, bench, min_run=12)


ORACLE_Q210 = """
with
docs as (
  select doc_id, source,
         list_filter(string_split(trim(coalesce(text, '')), ' '),
                     x -> x <> '') as toks
  from documents),
dk as (
  select doc_id, source, toks, len(toks) - 4 as m
  from docs where len(toks) >= 5),
h as (
  select doc_id, source, m, i as pos,
         cast(cast('0x' || substring(md5(
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
             toks[i+3] || ' ' || toks[i+4]
         ), 1, 15) as ubigint) as bigint) as h
  from dk, unnest(range(1, m + 1)) t(i)),
wmin as (
  select doc_id, source, m, pos,
         min(h) over (partition by doc_id order by pos
                      rows between current row and 7 following) as fp
  from h),
fps as (
  select distinct doc_id, source, fp
  from wmin where pos <= greatest(m - 7, 1)),
pairs as (
  select distinct a.doc_id as bid, b.doc_id as tid
  from fps a
  join fps b on a.fp = b.fp
  where a.source = 'src0' and b.source <> 'src0'),
-- mirror of the engine's max_gram_freq=64 cap (see ORACLE_Q205)
hc as (
  select doc_id, pos, h from (
    select doc_id, pos, h,
           count(*) over (partition by doc_id, h) as gf
    from h)
  where gf <= 64),
mtch as (
  select p.bid, p.tid, h1.pos as i, h1.pos - h2.pos as diag
  from pairs p
  join hc h1 on h1.doc_id = p.bid
  join hc h2 on h2.doc_id = p.tid and h2.h = h1.h),
st as (
  select bid, tid, diag, i,
         i - row_number() over (partition by bid, tid, diag order by i)
           as grp
  from mtch),
runs as (
  select bid, tid, diag, grp, min(i) as bmin,
         cast(count(*) + 4 as bigint) as run
  from st group by 1, 2, 3, 4),
qruns as (select bid, tid, bmin, run from runs where run >= 12),
stats as (
  select bid, cast(count(*) as bigint) as n_train_docs,
         cast(max(run) as bigint) as longest_run
  from (select bid, tid, max(run) as run from qruns group by 1, 2)
  group by 1),
spans as (select bid, bmin as s, bmin + run - 1 as e from qruns),
ord as (
  select bid, s, e,
         max(e) over (partition by bid order by s, e
                      rows between unbounded preceding and 1 preceding)
           as pmax
  from spans),
isl as (
  select bid, s, e,
         sum(case when pmax is null or s > pmax then 1 else 0 end)
           over (partition by bid order by s, e) as g
  from ord),
merged as (select bid, g, min(s) as s, max(e) as e from isl group by 1, 2),
cov as (
  select bid, cast(sum(e - s + 1) as bigint) as covered_tokens
  from merged group by 1)
select d.doc_id as bench_id,
       cast(len(d.toks) as bigint) as n_tokens,
       coalesce(st.n_train_docs, 0) as n_train_docs,
       coalesce(st.longest_run, 0) as longest_run,
       coalesce(c.covered_tokens, 0) as covered_tokens,
       cast(coalesce(c.covered_tokens, 0) as double)
         / cast(greatest(len(d.toks), 1) as double) as coverage
from docs d
left join stats st on st.bid = d.doc_id
left join cov c on c.bid = d.doc_id
where d.source = 'src0'
"""


def q211_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-guarded train/val/test split (ext/sampling.
    leakage_safe_split, X207): near-duplicate documents must never
    straddle the split boundary, so the assignment unit is the
    duplicate CLUSTER (exact-Jaccard pairs -> connected components),
    keyed by the cluster's canonical id through the same knuth bucket
    as q38. Docs in no pair split independently. One row per doc."""
    d = load(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(d, threshold=0.8)
    out = sampling.leakage_safe_split(
        d,
        pairs,
        "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
        method="knuth",
    )
    return out.select("doc_id", "split")


# same shingle/pair/component CTEs as ORACLE_Q49, then q38's knuth
# split keyed by the component id instead of the doc id
ORACLE_Q211 = """
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
comps as (
  select n.node as doc_id, least(n.node, min(r.b)) as gid
  from nodes n left join reach r on r.a = n.node
  group by n.node)
select d.doc_id,
       case when mod(coalesce(c.gid, d.doc_id) * 2654435761, 10000) < 8000
              then 'train'
            when mod(coalesce(c.gid, d.doc_id) * 2654435761, 10000) < 9000
              then 'val'
            else 'test' end as split
from documents d left join comps c using (doc_id)
"""


def q212_soft_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication (ext/dedup.soft_dedup, X208): keep
    ceil(sqrt(n)) members of every n-member duplicate cluster instead
    of one keeper — the duplicate-DOWNWEIGHTING policy between hard
    dedup (alpha=0) and no dedup (alpha=1). Members ranked by the
    knuth hash bucket (oracle-replayable), ties by id. One row per
    doc with its cluster, quota, and kept flag."""
    d = load(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(d, threshold=0.8)
    return dedup.soft_dedup(pairs, d, alpha=0.5, method="knuth")


# same component CTEs as ORACLE_Q211, then the per-cluster
# ceil(sqrt(n)) quota over the knuth-ranked members
ORACLE_Q212 = """
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
comps as (
  select n.node as doc_id, least(n.node, min(r.b)) as gid
  from nodes n left join reach r on r.a = n.node
  group by n.node),
lab as (
  select d.doc_id, coalesce(c.gid, d.doc_id) as cluster_id
  from documents d left join comps c using (doc_id)),
rk as (
  select doc_id, cluster_id,
         cast(count(*) over (partition by cluster_id) as bigint)
           as n_members,
         row_number() over (
           partition by cluster_id
           order by mod(doc_id * 2654435761, 10000), doc_id) as rn
  from lab)
select doc_id, cluster_id, n_members,
       cast(least(n_members, ceil(pow(n_members, 0.5))) as bigint) as quota,
       cast(case when rn <= least(n_members, ceil(pow(n_members, 0.5)))
                 then 1 else 0 end as bigint) as kept
from rk
"""


def q213_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit (ext/sampling.split_leakage_audit, X209):
    measure how many near-dup pairs straddle the NAIVE doc-keyed
    train/val/test split (q38's knuth assignment) — the number q211's
    cluster-keyed split drives to zero (property-tested). Off-diagonal
    rows are leaks; the diagonal is benign within-split duplication.
    One row per unordered split pair that holds any near-dup pair."""
    d = load(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(d, threshold=0.8)
    naive = sampling.split_assign(
        d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, method="knuth"
    )
    return sampling.split_leakage_audit(naive, pairs)


# same shingle/pair CTEs as ORACLE_Q211 (no components needed), then
# q38's knuth split on each pair end and the unordered-cell rollup
ORACLE_Q213 = """
with
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
sp as (
  select doc_id,
         case when mod(doc_id * 2654435761, 10000) < 8000 then 'train'
              when mod(doc_id * 2654435761, 10000) < 9000 then 'val'
              else 'test' end as split
  from documents)
select least(a.split, b.split) as split_a,
       greatest(a.split, b.split) as split_b,
       cast(count(*) as bigint) as n_pairs
from pairs p
join sp a on a.doc_id = p.d1
join sp b on b.doc_id = p.d2
group by 1, 2
"""


def q214_boilerplate_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate fraction (ext/textops.boilerplate_score,
    X210): the fraction of each doc's distinct 3-grams whose corpus
    document frequency exceeds 10 — the per-doc decision signal fed by
    q34-family corpus ranking (a doc near 1.0 is template chrome).
    One row per document, short docs at zero."""
    return textops.boilerplate_score(
        load(spark, sf_dir, "documents"), k=3, min_df=10
    )


ORACLE_Q214 = """
with
docs as (
  select doc_id,
         list_filter(string_split(trim(text), ' '), x -> x <> '') as toks
  from documents),
dk as (
  select doc_id, toks, len(toks) - 2 as m
  from docs where len(toks) >= 3),
g as (
  select distinct doc_id,
         cast(cast('0x' || substring(md5(
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         ), 1, 15) as ubigint) as bigint) as h
  from dk, unnest(range(1, m + 1)) t(i)),
census as (select h, count(*) as df from g group by h),
hot as (select h from census where df > 10),
n_all as (select doc_id, cast(count(*) as bigint) as n_grams from g group by 1),
n_hot as (
  select g.doc_id, cast(count(*) as bigint) as n_hot
  from g join hot using (h) group by 1)
select d.doc_id,
       coalesce(a.n_grams, 0) as n_grams,
       coalesce(h.n_hot, 0) as n_hot,
       cast(coalesce(h.n_hot, 0) as double)
         / cast(greatest(coalesce(a.n_grams, 0), 1) as double)
         as boilerplate_frac
from docs d
left join n_all a using (doc_id)
left join n_hot h using (doc_id)
"""


def q215_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold-sensitivity report (ext/dedup.
    dedup_threshold_sweep, X211): pair and distinct-doc counts at
    0.7/0.8/0.9/0.95 from ONE exact-Jaccard discovery at the loosest
    threshold — the audit that justifies (or indicts) the corpus's
    dedup threshold choice. Zero-pair thresholds still report 0/0."""
    pairs = dedup.jaccard_pairs(
        load(spark, sf_dir, "documents"), threshold=0.7
    )
    return dedup.dedup_threshold_sweep(
        pairs, thresholds=(0.7, 0.8, 0.9, 0.95)
    )


ORACLE_Q215 = """
with
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
  select d1, d2,
         cast(c as double) / cast(na.n + nb.n - c as double) as jacc
  from common
  join sizes na on na.doc_id = d1
  join sizes nb on nb.doc_id = d2
  where cast(c as double) / cast(na.n + nb.n - c as double) >= 0.7),
-- the cast matters: a bare decimal list would hash-mismatch Spark's
-- double thresholds ('0.90' vs '0.9')
th as (select cast(unnest([0.7, 0.8, 0.9, 0.95]) as double) as threshold),
e as (
  select t.threshold, p.d1, p.d2
  from th t join pairs p on p.jacc >= t.threshold),
np as (select threshold, cast(count(*) as bigint) as n_pairs from e group by 1),
nd as (
  select threshold, cast(count(distinct doc) as bigint) as n_docs
  from (select threshold, d1 as doc from e
        union all select threshold, d2 from e)
  group by 1)
select t.threshold,
       coalesce(np.n_pairs, 0) as n_pairs,
       coalesce(nd.n_docs, 0) as n_docs
from th t
left join np using (threshold)
left join nd using (threshold)
"""


def q216_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (ext/sampling.cap_per_group, X212): keep
    at most 30 docs per source, chosen as the lowest knuth hash
    buckets (ties by id) — the crawl-hygiene rule that stops any one
    domain from dominating the mix, deterministic and oracle-
    replayable. Per-source counts of the kept set."""
    capped = sampling.cap_per_group(
        load(spark, sf_dir, "documents"), "source", 30, "doc_id",
        method="knuth",
    )
    return capped.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


ORACLE_Q216 = """
with rk as (
  select source, doc_id,
         row_number() over (
           partition by source
           order by mod(doc_id * 2654435761, 10000), doc_id) as rn
  from documents)
select source, cast(count(*) as bigint) as n_kept,
       min(doc_id) as min_id, max(doc_id) as max_id
from rk where rn <= 30
group by source
"""
