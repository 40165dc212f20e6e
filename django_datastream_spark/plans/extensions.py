"""Extension conformance queries (SURVEY §2.10 / BASELINE north star):
dedup, similarity search, text analysis, multimodal plumbing — each a
``queries()`` entry; oracle SQL provided wherever the computation is
portable to DuckDB (md5/sha256/regex/list ops). Hash-based operators
(xxhash64 minhash/simhash) and the LSH ANN path are declared rows-only
and pinned by property tests instead (tests/test_extensions.py).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import text as tx
from ..operators import decontaminate as dc
from ..operators import dedup as dd
from ..operators import timeseries as tso
from ..operators import multimodal as mm
from ..operators import sampling as smp
from ..operators import similarity as sim
from ..sources.testdata import load_table
from .declared import _declare

# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------


@_declare(
    "q31_token_count",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) n_tok,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) n_bpe
    FROM documents ORDER BY doc_id
    """,
)
def q31(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.token_count(F.col("text")).alias("n_tok"),
        F.size(tx.bpe_ish_tokens(F.col("text"))).cast("long").alias("n_bpe"),
    ).orderBy("doc_id")


@_declare(
    "q32_text_quality",
    r"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) n_chars,
           CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) n_tokens,
           ROUND(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) * 1.0
                 / NULLIF(length(text), 0), 4) punct_ratio,
           ROUND(len(list_filter(regexp_extract_all(text, '\S+'),
                     x -> list_contains(['the','a','an','and','or','of','to','in','is','are','was','were','be','been','it','this','that','for','on','with'], x))) * 1.0
                 / NULLIF(len(regexp_extract_all(text, '\S+')), 0), 4) stop_ratio
    FROM documents ORDER BY doc_id
    """,
)
def q32(spark, sf_dir):
    # r11: scatter the single-row-group scan (the metrics are row-local
    # regex/HOF CPU), and sort the narrow (doc_id, text) spine BEFORE
    # the metric projection so range-partition sampling doesn't
    # re-execute it (q79/q50 pattern); a per-row projection over the
    # sorted exchange preserves the doc_id order
    docs = (
        load_table(spark, sf_dir, "documents", scatter=True)
        .select("doc_id", "text")
        .orderBy("doc_id")
    )
    t = tx.tokens(F.col("text"))
    stop = F.array(*[F.lit(w) for w in tx._EN_STOPWORDS])
    n_tok = F.size(t)
    punct = F.length(F.regexp_replace("text", r"[^.!?,;:]", ""))
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        n_tok.cast("long").alias("n_tokens"),
        F.round(
            punct / F.nullif(F.length("text"), F.lit(0)), 4
        ).alias("punct_ratio"),
        F.round(
            F.size(F.filter(t, lambda x: F.array_contains(stop, x)))
            / F.nullif(n_tok, F.lit(0)),
            4,
        ).alias("stop_ratio"),
    )


def _lang_marker_values() -> str:
    rows = [
        f"('{lang}','{w}')" for lang, ws in tx.LANG_MARKERS.items() for w in ws
    ]
    return ", ".join(rows)


@_declare(
    "q33_lang_id",
    rf"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) tok
      FROM documents),
    m(lang, marker) AS (VALUES {_lang_marker_values()}),
    hits AS (SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) hits
             FROM toks JOIN m ON tok = marker GROUP BY 1, 2),
    best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY hits DESC, lang ASC) rk FROM hits)
    SELECT d.doc_id, COALESCE(b.lang, 'und') pred_lang,
           CAST(COALESCE(b.hits, 0) AS BIGINT) hits
    FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rk = 1
    ORDER BY d.doc_id
    """,
)
def q33(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return tx.lang_id(docs).orderBy("doc_id")


@_declare(
    "q34_fingerprint",
    r"""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) fp
    FROM documents ORDER BY doc_id
    """,
)
def q34(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", tx.fingerprint_md5(F.col("text")).alias("fp")
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# dedup
# --------------------------------------------------------------------------


@_declare(
    "q35_exact_dedup_survivors",
    r"""
    WITH fp AS (SELECT doc_id,
                 md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) f
                FROM documents),
    k AS (SELECT f, MIN(doc_id) keeper, CAST(COUNT(*) AS BIGINT) dups
          FROM fp GROUP BY 1)
    SELECT CAST(COUNT(*) AS BIGINT) survivors,
           CAST(SUM(dups) AS BIGINT) total,
           CAST(SUM(keeper) AS BIGINT) keeper_ck
    FROM k
    """,
)
def q35(spark, sf_dir):
    # same fingerprint as dd.exact_dedup, but totals derived INSIDE the
    # aggregation (no driver action while building the plan)
    docs = load_table(spark, sf_dir, "documents")
    groups = docs.groupBy(tx.fingerprint_md5(F.col("text")).alias("_fp")).agg(
        F.min("doc_id").alias("_keeper"), F.count("*").alias("_dups")
    )
    return groups.agg(
        F.count("*").alias("survivors"),
        F.sum("_dups").cast("long").alias("total"),
        F.sum("_keeper").cast("long").alias("keeper_ck"),
    )


@_declare(
    "q36_trigram_jaccard_pairs",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(regexp_extract_all(text,'\S+')) - 1, 1)),
               i -> regexp_extract_all(text,'\S+')[i] || ' ' ||
                    regexp_extract_all(text,'\S+')[i+1] || ' ' ||
                    regexp_extract_all(text,'\S+')[i+2])) sh
      FROM documents WHERE doc_id < 200),
    p AS (SELECT a.doc_id a, b.doc_id b,
                 len(list_intersect(a.sh, b.sh)) * 1.0
                 / NULLIF(len(list_distinct(list_concat(a.sh, b.sh))), 0) j
          FROM t a JOIN t b ON a.doc_id < b.doc_id)
    SELECT a, b, ROUND(j, 4) jaccard FROM p WHERE j >= 0.02 ORDER BY a, b
    """,
)
def q36(spark, sf_dir):
    # doc_id < 200 @ threshold 0.02 is non-vacuous at every test sf
    # (57 pairs at sf0.001, 58 at sf0.01) — a 0-row hash match proves
    # nothing, per the round-4 advisor note on q12.
    docs = load_table(spark, sf_dir, "documents", scatter=True).filter(F.col("doc_id") < 200)
    pairs = dd.jaccard_pairs(docs, pairs=None, shingle_n=3)
    return (
        pairs.filter(F.col("jaccard") >= 0.02)
        .select("a", "b", F.round("jaccard", 4).alias("jaccard"))
        .orderBy("a", "b")
    )


@_declare(
    "q47_training_filter",
    r"""
    WITH fp AS (SELECT doc_id,
                 md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) f,
                 len(regexp_extract_all(text, '\S+')) nt,
                 length(regexp_replace(text, '[^.!?,;:]', '', 'g')) * 1.0
                   / NULLIF(length(text), 0) pr
                FROM documents),
    surv AS (SELECT f, MIN(doc_id) keep FROM fp GROUP BY f)
    SELECT fp.doc_id, CAST(fp.nt AS BIGINT) n_tokens
    FROM fp JOIN surv ON fp.f = surv.f AND fp.doc_id = surv.keep
    WHERE fp.nt >= 5 AND COALESCE(fp.pr, 0) < 0.2
    ORDER BY fp.doc_id
    """,
)
def q47(spark, sf_dir):
    """Composite training-data filter: exact-dedup survivors that also
    pass quality thresholds — the operators compose as one declarative
    plan (dedup window + expression filters), no intermediate
    materialization."""
    docs = load_table(spark, sf_dir, "documents")
    surv = dd.exact_dedup(docs)
    qm = tx.quality_metrics(F.col("text"))
    return (
        surv.select("doc_id", qm["n_tokens"].alias("n_tokens"), qm["punct_ratio"].alias("_pr"))
        .filter((F.col("n_tokens") >= 5) & (F.coalesce("_pr", F.lit(0.0)) < 0.2))
        .select("doc_id", "n_tokens")
        .orderBy("doc_id")
    )


@_declare(
    "q45_dedup_clusters",
    r"""
    WITH RECURSIVE t AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(regexp_extract_all(text,'\S+')) - 1, 1)),
               i -> regexp_extract_all(text,'\S+')[i] || ' ' ||
                    regexp_extract_all(text,'\S+')[i+1] || ' ' ||
                    regexp_extract_all(text,'\S+')[i+2])) sh
      FROM documents WHERE doc_id < 60),
    p AS (SELECT a.doc_id a, b.doc_id b
          FROM t a JOIN t b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.sh, b.sh)) * 1.0
                / NULLIF(len(list_distinct(list_concat(a.sh, b.sh))), 0) >= 0.03),
    und AS (SELECT a x, b y FROM p UNION SELECT b, a FROM p),
    reach(x, y) AS (
      SELECT x, y FROM und
      UNION
      SELECT r.x, u.y FROM reach r JOIN und u ON r.y = u.x)
    SELECT d.doc_id,
           CAST(LEAST(d.doc_id, COALESCE(m.mn, d.doc_id)) AS BIGINT) cluster_id
    FROM (SELECT doc_id FROM documents WHERE doc_id < 60) d
    LEFT JOIN (SELECT x, MIN(y) mn FROM reach GROUP BY x) m ON m.x = d.doc_id
    ORDER BY d.doc_id
    """,
)
def q45(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    pairs = dd.jaccard_pairs(docs, pairs=None, shingle_n=3).filter(
        F.col("jaccard") >= 0.03
    )
    return dd.dedup_clusters(docs, pairs).orderBy("doc_id")


@_declare(
    "q46_vocab_topk",
    r"""
    SELECT token, CAST(COUNT(*) AS BIGINT) occurrences
    FROM (SELECT unnest(regexp_extract_all(lower(text), '\S+')) token
          FROM documents)
    GROUP BY token ORDER BY occurrences DESC, token ASC LIMIT 50
    """,
)
def q46(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return tx.vocab_topk(docs, 50)


@_declare(
    "q37_embedding_near_pairs",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
               FROM embeddings WHERE vec_id < 200),
    p AS (SELECT a.vec_id a, b.vec_id b,
                 list_inner_product(a.v, b.v)
                 / sqrt(list_inner_product(a.v, a.v) * list_inner_product(b.v, b.v)) c
          FROM e a JOIN e b ON a.vec_id < b.vec_id)
    SELECT a, b, ROUND(c, 4) cosine FROM p WHERE c >= 0.35 ORDER BY a, b
    """,
)
def q37(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings", scatter=True).filter(F.col("vec_id") < 200)
    return (
        dd.cosine_near_pairs(emb, threshold=0.35)
        .select("a", "b", F.round("cosine", 4).alias("cosine"))
        .orderBy("a", "b")
    )


# --------------------------------------------------------------------------
# repetition quality + deterministic corpus mixing (training-data prep)
# --------------------------------------------------------------------------


@_declare(
    "q50_repetition_quality",
    r"""
    WITH d AS (SELECT doc_id, regexp_extract_all(text, '\S+') tk FROM documents),
    g0 AS (SELECT doc_id, CASE WHEN len(tk) >= 2
             THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
             ELSE [] END gs FROM d),
    g AS (SELECT doc_id, unnest(gs) g FROM g0),
    c AS (SELECT doc_id, g, COUNT(*) c FROM g GROUP BY 1, 2),
    p AS (SELECT doc_id, SUM(c) n2, COUNT(*) nd, MAX(c) tc FROM c GROUP BY 1)
    SELECT d.doc_id,
           CAST(COALESCE(p.n2, 0) AS BIGINT) n_2grams,
           ROUND((p.n2 - p.nd) * 1.0 / p.n2, 4) + 0 dup_2gram_frac,
           ROUND(p.tc * 1.0 / p.n2, 4) + 0 top_2gram_frac,
           COALESCE((p.n2 - p.nd) * 1.0 / p.n2 <= 0.2
                    AND p.tc * 1.0 / p.n2 <= 0.2, FALSE) keep
    FROM d LEFT JOIN p ON d.doc_id = p.doc_id
    ORDER BY d.doc_id
    """,
)
def q50(spark, sf_dir):
    # r11: scatter the single-row-group scan (the fold is row-local
    # CPU), and sort the narrow (doc_id, text) spine BEFORE the fold
    # projection so range-partition sampling doesn't re-execute it
    # (q79 pattern); a per-row projection over the sorted exchange
    # preserves the doc_id order
    docs = (
        load_table(spark, sf_dir, "documents", scatter=True)
        .select("doc_id", "text")
        .orderBy("doc_id")
    )
    rep = tx.repetition_metrics(docs)
    # + 0.0 canonicalizes IEEE -0.0 → +0.0 (matches the oracle's `+ 0`)
    return rep.select(
        "doc_id",
        "n_2grams",
        (F.col("dup_2gram_frac") + F.lit(0.0)).alias("dup_2gram_frac"),
        (F.col("top_2gram_frac") + F.lit(0.0)).alias("top_2gram_frac"),
        "keep",
    )


_MIX_RATES = {"src0": 0.9, "src1": 0.6, "src2": 0.3}


@_declare(
    "q51_corpus_mix",
    r"""
    WITH u AS (SELECT doc_id, source,
               (('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 * 1.0 / 4294967296.0) u
               FROM documents)
    SELECT doc_id, source, u FROM u
    WHERE u < CASE source WHEN 'src0' THEN 0.9 WHEN 'src1' THEN 0.6
                          WHEN 'src2' THEN 0.3 ELSE 0.15 END
    ORDER BY doc_id
    """,
)
def q51(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return (
        smp.weighted_mix(docs, _MIX_RATES, default_rate=0.15)
        .select("doc_id", "source", "u")
        .orderBy("doc_id")
    )


@_declare(
    "q52_train_split_counts",
    r"""
    WITH s AS (SELECT source,
               CASE WHEN (('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                     * 1.0 / 4294967296.0) < 0.1 THEN 'heldout' ELSE 'train' END split
               FROM documents)
    SELECT source, split, CAST(COUNT(*) AS BIGINT) n
    FROM s GROUP BY 1, 2 ORDER BY source, split
    """,
)
def q52(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return (
        smp.train_heldout_split(docs, heldout_frac=0.1)
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("source", "split")
    )


@_declare(
    "q53_embedding_quantize",
    r"""
    WITH s AS (SELECT vec_id, embedding,
               127.0 / NULLIF(list_max(list_transform(embedding,
                              x -> abs(CAST(x AS DOUBLE)))), 0) scale
               FROM embeddings)
    SELECT vec_id, scale,
           CAST(list_sum(list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT)))
                AS BIGINT) qsum,
           md5(array_to_string(list_transform(embedding,
                x -> CAST(CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT)
                          AS VARCHAR)), ',')) qhash
    FROM s ORDER BY vec_id
    """,
)
def q53(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = sim.quantize_int8(emb)
    # arrays aren't hash-portable across engines; project scalar digests
    return q.select(
        "vec_id",
        "scale",
        F.aggregate(
            "q", F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long")
        ).alias("qsum"),
        F.md5(F.concat_ws(",", F.col("q").cast("array<string>"))).alias("qhash"),
    ).orderBy("vec_id")


# --------------------------------------------------------------------------
# portable-hash twins: the SAME minhash-LSH / simhash pipeline shapes as
# q38/q39, built from md5 instead of xxhash64 so the driver's DuckDB
# oracle hash-verifies the full pipeline (band keys, bucket join,
# verified jaccard / bit votes) end to end.
# --------------------------------------------------------------------------


@_declare(
    "q48_minhash_md5_pairs",
    r"""
    WITH d AS (SELECT doc_id, regexp_extract_all(text, '\S+') tk
               FROM documents WHERE doc_id < 200),
    t AS (SELECT doc_id,
                 list_distinct(list_transform(
                   range(1, greatest(len(tk) - 1, 1)),
                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) sh
          FROM d),
    s AS (SELECT doc_id, unnest(sh) sh FROM t),
    m AS (SELECT doc_id, seed.s seed,
                 MIN(md5(CAST(seed.s AS VARCHAR) || ':' || sh)) mh
          FROM s CROSS JOIN (SELECT unnest(range(0, 16)) s) seed
          GROUP BY 1, 2),
    b AS (SELECT doc_id, CAST(seed // 4 AS BIGINT) band,
                 md5(string_agg(mh, ',' ORDER BY seed)) bkey
          FROM m GROUP BY 1, 2),
    c AS (SELECT DISTINCT x.doc_id a, y.doc_id b
          FROM b x JOIN b y
          ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
    v AS (SELECT c.a, c.b,
                 len(list_intersect(p.sh, q.sh)) * 1.0
                 / NULLIF(len(list_distinct(list_concat(p.sh, q.sh))), 0) j
          FROM c JOIN t p ON p.doc_id = c.a JOIN t q ON q.doc_id = c.b)
    SELECT a, b, ROUND(j, 4) jaccard FROM v WHERE j >= 0.5 ORDER BY a, b
    """,
)
def q48(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents", scatter=True).filter(F.col("doc_id") < 200)
    return (
        dd.minhash_lsh_dedup_md5(docs, threshold=0.5)
        .select("a", "b", F.round("jaccard", 4).alias("jaccard"))
        .orderBy("a", "b")
    )


def _simhash16_oracle_sql() -> str:
    votes = []
    for i in range(16):
        p, shift = i // 4 + 1, 3 - i % 4
        votes.append(
            f"SUM(CASE WHEN ((strpos('0123456789abcdef', substr(h,{p},1)) - 1)"
            f" >> {shift}) & 1 = 1 THEN 1 ELSE -1 END) s{i}"
        )
    final = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(16)
    )
    return rf"""
    WITH tk AS (SELECT doc_id, md5(unnest(regexp_extract_all(text, '\S+'))) h
                FROM documents WHERE doc_id < 200),
    v AS (SELECT doc_id, {', '.join(votes)} FROM tk GROUP BY 1)
    SELECT doc_id, CAST({final} AS BIGINT) simhash16 FROM v ORDER BY doc_id
    """


@_declare("q49_simhash_md5", _simhash16_oracle_sql())
def q49(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dd.simhash_md5(docs).orderBy("doc_id")


# --------------------------------------------------------------------------
# rows-only declarations (hash functions aren't portable to the oracle;
# pinned by property tests in tests/test_extensions.py)
# --------------------------------------------------------------------------


@_declare("q38_simhash", None)
def q38(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dd.simhash(docs).orderBy("doc_id")


@_declare("q39_minhash_lsh_pairs", None)
def q39(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dd.minhash_lsh_dedup(docs, threshold=0.5).orderBy("a", "b")


@_declare("q41_ann_lsh_topk", None)
def q41(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    return sim.rp_lsh_topk(q, emb, k=5, dim=64).orderBy("query_id", "rank")


@_declare("q42_ann_ivf_topk", None)
def q42(spark, sf_dir):
    import hashlib
    import os
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    # persisted IVF index (survives process restarts — the first bench call
    # loads centroids instead of refitting); keyed by corpus + params
    key = hashlib.md5(f"{sf_dir}/embeddings:c16:s42".encode()).hexdigest()
    idx = os.path.join(tempfile.gettempdir(), f"ddss_ivf_{key}")
    return sim.ivf_topk(
        q,
        emb,
        k=5,
        n_cells=16,
        n_probe=4,
        cache_key=f"{sf_dir}/embeddings",
        index_dir=idx,
    ).orderBy("query_id", "rank")


# --------------------------------------------------------------------------
# windowing extensions beyond the reference's tumbling-only surface
# (SURVEY T2: sliding + session windows are free in Spark; both declared
# here in batch form so the oracle can check them)
# --------------------------------------------------------------------------


@_declare(
    "q43_sessionize",
    """
    WITH o AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR CAST(floor(epoch(ts)) AS BIGINT)
                          - LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800
                  THEN 1 ELSE 0 END new_sess
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) sess_id
          FROM o)
    SELECT user_id, CAST(sess_id AS BIGINT) sess_id,
           CAST(COUNT(*) AS BIGINT) n,
           CAST(MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS BIGINT) t0,
           CAST(MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS BIGINT) t1,
           ROUND(SUM(value), 4) s
    FROM s GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q43(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity gap) as a declarative
    lag + cumulative-sum plan — the batch twin of session_window()."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = F.unix_timestamp("ts")
    o = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(
            F.lag("ts").over(w).isNull() | ((e - F.lag(e).over(w)) > 1800), 1
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    s = o.withColumn(
        "sess_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        s.groupBy("user_id", F.col("sess_id").cast("long").alias("sess_id"))
        .agg(
            F.count("*").alias("n"),
            F.min(F.unix_timestamp("ts")).alias("t0"),
            F.max(F.unix_timestamp("ts")).alias("t1"),
            F.round(F.sum("value"), 4).alias("s"),
        )
        .orderBy("user_id", "sess_id")
    )


@_declare(
    "q44_sliding_windows",
    """
    SELECT user_id,
           CAST(FLOOR((CAST(floor(epoch(ts)) AS BIGINT) - off.o)/600)*600 + off.o AS BIGINT) w0,
           CAST(COUNT(*) AS BIGINT) c, ROUND(SUM(value),4) s
    FROM events CROSS JOIN (VALUES (0), (300)) off(o)
    GROUP BY 1, 2 HAVING COUNT(*) > 2 ORDER BY 1, 2
    """,
)
def q44(spark, sf_dir):
    """10-minute windows sliding by 5 minutes: each row contributes to
    duration/slide phase-shifted tumbling buckets — the batch equivalent
    of window(ts, '10 minutes', '5 minutes'), shuffle count identical to
    a plain groupBy."""
    ev = load_table(spark, sf_dir, "events")
    e = F.unix_timestamp("ts")
    exploded = ev.select(
        "user_id", "value", e.alias("_e"), F.explode(F.array(F.lit(0), F.lit(300))).alias("o")
    )
    w0 = (F.floor((F.col("_e") - F.col("o")) / 600) * 600 + F.col("o")).cast("long")
    return (
        exploded.groupBy("user_id", w0.alias("w0"))
        .agg(F.count("*").alias("c"), F.round(F.sum("value"), 4).alias("s"))
        .filter(F.col("c") > 2)
        .orderBy("user_id", "w0")
    )


# --------------------------------------------------------------------------
# multimodal plumbing (binary column + mapInPandas; decode stubbed —
# n_bytes/sha are portable and oracle-checked)
# --------------------------------------------------------------------------


@_declare(
    "q40_multimodal_features",
    """
    SELECT doc_id AS media_id,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) n_bytes,
           substr(sha256(text), 1, 16) sha
    FROM documents WHERE doc_id < 100 ORDER BY media_id
    """,
)
def q40(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = mm.synth_media_from_documents(docs)
    feats = mm.extract_features(media, fake=True)
    return feats.select("media_id", "n_bytes", "sha").orderBy("media_id")


# --------------------------------------------------------------------------
# benchmark decontamination + exact percentile downsampling
# --------------------------------------------------------------------------


@_declare(
    "q54_decontaminate",
    r"""
    WITH d AS (SELECT doc_id, regexp_extract_all(text, '\S+') tk FROM documents),
    g0 AS (SELECT doc_id, CASE WHEN len(tk) >= 3
             THEN list_distinct(list_transform(range(1, len(tk) - 1),
                  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
             ELSE [] END gs FROM d),
    g AS (SELECT doc_id, unnest(gs) g FROM g0),
    ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 50 = 0),
    hits AS (SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) n_shared
             FROM g JOIN ev USING (g) GROUP BY 1)
    SELECT d.doc_id, COALESCE(h.n_shared, 0) n_shared,
           COALESCE(h.n_shared, 0) >= 1 contaminated
    FROM d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id % 50 != 0
    ORDER BY d.doc_id
    """,
)
def q54(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents", scatter=True)
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    return (
        dc.flag_contaminated(train, ev, n=3)
        .select("doc_id", "n_shared", "contaminated")
        .orderBy("doc_id")
    )


@_declare(
    "q56_asof_join",
    """
    WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type='click'),
    r AS (SELECT user_id, ts, max_by(value, event_id) v
          FROM events WHERE event_type='purchase' GROUP BY 1, 2)
    SELECT l.event_id, l.user_id,
           CAST(floor(epoch(l.ts)) AS BIGINT) ts_s,
           CAST(floor(epoch(r.ts)) AS BIGINT) match_ts_s,
           ROUND(r.v, 4) + 0 last_purchase
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    ORDER BY l.event_id
    """,
)
def q56(spark, sf_dir):
    """As-of join: each click gets the user's latest purchase value at or
    before the click. Spark side is the union-trick single-shuffle plan
    (operators/timeseries.asof_join); oracle is DuckDB's native ASOF
    LEFT JOIN over the identical pre-aggregated right side."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("value"))
    )
    j = tso.asof_join(clicks, purchases, key="user_id")
    return j.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_s"),
        F.unix_timestamp("ts_asof").alias("match_ts_s"),
        (F.round("value_asof", 4) + F.lit(0.0)).alias("last_purchase"),
    ).orderBy("event_id")


@_declare(
    "q57_resample_ffill",
    """
    WITH pb AS (SELECT user_id k,
                CAST(floor(floor(epoch(ts))/3600)*3600 AS BIGINT) b,
                max_by(value, event_id) v
                FROM events WHERE event_type='error' AND user_id < 10
                GROUP BY 1, 2),
    bounds AS (SELECT k, MIN(b) b0, MAX(b) b1 FROM pb GROUP BY 1),
    grid AS (SELECT k, unnest(range(b0, b1 + 3600, 3600)) b FROM bounds),
    f AS (SELECT g.k, g.b, pb.v,
          last_value(pb.v IGNORE NULLS) OVER (PARTITION BY g.k ORDER BY g.b) fv
          FROM grid g LEFT JOIN pb ON g.k = pb.k AND g.b = pb.b)
    SELECT k AS user_id, b AS bucket_start, ROUND(fv, 4) + 0 AS value,
           v IS NULL AS filled
    FROM f ORDER BY user_id, bucket_start
    """,
)
def q57(spark, sf_dir):
    """Regular-grid resampling with forward fill: hourly grid per user
    from first to last error event, last value carried across empty
    buckets (operators/timeseries.resample_ffill)."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "error") & (F.col("user_id") < 10)
    )
    rs = tso.resample_ffill(
        ev, key="user_id", step_seconds=3600, order_col="event_id"
    )
    return rs.select(
        "user_id",
        "bucket_start",
        (F.round("value", 4) + F.lit(0.0)).alias("value"),
        "filled",
    ).orderBy("user_id", "bucket_start")


@_declare(
    "q58_window_family",
    """
    WITH e AS (SELECT event_id, user_id, ts, value,
               CAST(floor(epoch(ts)) AS BIGINT) es FROM events WHERE user_id < 50)
    SELECT event_id, user_id,
      ROUND(COALESCE(value - LAG(value) OVER w, 0), 4) + 0 dv,
      CAST(NTILE(4) OVER (PARTITION BY user_id ORDER BY value, event_id) AS BIGINT) quartile,
      ROUND(PERCENT_RANK() OVER (PARTITION BY user_id ORDER BY value, event_id), 4) + 0 pr,
      CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY es
           RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT) n_1h
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY event_id
    """,
)
def q58(spark, sf_dir):
    """Window-function family beyond q19's row_number/rows-frame: lag
    delta, ntile quartiles, percent_rank, and a trailing event-time
    RANGE frame (count of events in the last hour) — the frame shape
    that replaces self-joins for trailing metrics at scale."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    ev = ev.withColumn("es", F.unix_timestamp("ts"))
    wt = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wv = Window.partitionBy("user_id").orderBy("value", "event_id")
    wr = Window.partitionBy("user_id").orderBy("es").rangeBetween(-3600, 0)
    return ev.select(
        "event_id",
        "user_id",
        (F.round(F.coalesce(F.col("value") - F.lag("value").over(wt), F.lit(0.0)), 4)
         + F.lit(0.0)).alias("dv"),
        F.ntile(4).over(wv).cast("long").alias("quartile"),
        (F.round(F.percent_rank().over(wv), 4) + F.lit(0.0)).alias("pr"),
        F.count(F.lit(1)).over(wr).cast("long").alias("n_1h"),
    ).orderBy("event_id")


# shared CTE block: the q59 fuzzy-pair blocking pipeline (minhash bands,
# q48's md5 seeds; dual-offset length bands, q44's phase grids) — reused
# verbatim by q65's clustering oracle so both gates pin the same blocking
_FUZZY_PAIR_CTES = r"""
    d AS (SELECT doc_id, text, source, n_chars,
                 regexp_extract_all(text, '\S+') tk FROM documents),
    t AS (SELECT doc_id, CASE WHEN len(tk) >= 3
            THEN list_distinct(list_transform(range(1, len(tk) - 1),
                 i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
            ELSE [] END sh FROM d),
    s AS (SELECT doc_id, unnest(sh) sh FROM t),
    m AS (SELECT doc_id, seed.s seed,
                 MIN(md5(CAST(seed.s AS VARCHAR) || ':' || sh)) mh
          FROM s CROSS JOIN (SELECT unnest(range(0, 16)) s) seed
          GROUP BY 1, 2),
    b AS (SELECT doc_id, CAST(seed // 2 AS BIGINT) band,
                 md5(string_agg(mh, ',' ORDER BY seed)) bkey
          FROM m GROUP BY 1, 2),
    lbs AS (
      SELECT doc_id, source, 0 lo, CAST(floor(n_chars * 1.0 / 100) AS BIGINT) lb
      FROM d
      UNION ALL
      SELECT doc_id, source, 1, CAST(floor((n_chars - 50) * 1.0 / 100) AS BIGINT)
      FROM d),
    c AS (SELECT DISTINCT x.doc_id a, y.doc_id b
          FROM lbs x
          JOIN lbs y ON x.source = y.source AND x.lo = y.lo AND x.lb = y.lb
                     AND x.doc_id < y.doc_id
          JOIN b bx ON bx.doc_id = x.doc_id
          JOIN b bb ON bb.doc_id = y.doc_id AND bb.band = bx.band
                     AND bb.bkey = bx.bkey),
    v AS (SELECT c.a, c.b, levenshtein(p.text, q.text) dist,
                 greatest(length(p.text), length(q.text)) mx
          FROM c JOIN d p ON p.doc_id = c.a JOIN d q ON q.doc_id = c.b)"""


@_declare(
    "q59_fuzzy_pairs",
    f"""
    WITH {_FUZZY_PAIR_CTES}
    SELECT a, b, CAST(dist AS BIGINT) dist,
           ROUND(1.0 - dist * 1.0 / mx, 4) + 0 sim
    FROM v WHERE 1.0 - dist * 1.0 / mx >= 0.4 ORDER BY a, b
    """,
)
def q59(spark, sf_dir):
    """Fuzzy near-dup pairs with content-derived blocking: candidates
    must share (source, dual-offset length band, md5-minhash band) —
    the minhash co-key is what keeps candidates sub-quadratic in corpus
    size (fixed-cardinality source×length keys alone grow blocks ∝N →
    pairs ∝N²; band-key cardinality grows with the corpus). Edit
    distance runs as Spark's thresholded banded DP on the survivors of
    a sound length-difference prefilter. The oracle replicates the
    blocking exactly (same md5 seeds/bands as q48, same offset grids as
    q44)."""
    docs = load_table(spark, sf_dir, "documents", scatter=True)
    return (
        dd.levenshtein_near_pairs(docs, threshold=0.4)
        .select("a", "b", "dist", (F.round("sim", 4) + F.lit(0.0)).alias("sim"))
        .orderBy("a", "b")
    )


@_declare(
    "q65_fuzzy_cluster_survivors",
    f"""
    WITH RECURSIVE {_FUZZY_PAIR_CTES},
    fp AS (SELECT a, b FROM v WHERE 1.0 - dist * 1.0 / mx >= 0.4),
    und AS (SELECT a x, b y FROM fp UNION SELECT b, a FROM fp),
    reach(x, y) AS (
      SELECT x, y FROM und
      UNION
      SELECT r.x, u.y FROM reach r JOIN und u ON r.y = u.x),
    lab AS (SELECT d.doc_id,
                   LEAST(d.doc_id, COALESCE(m.mn, d.doc_id)) cid
            FROM d LEFT JOIN (SELECT x, MIN(y) mn FROM reach GROUP BY x) m
            ON m.x = d.doc_id)
    SELECT CAST(cid AS BIGINT) survivor_id, CAST(COUNT(*) AS BIGINT) n_members
    FROM lab GROUP BY 1 ORDER BY 1
    """,
)
def q65(spark, sf_dir):
    """The composite fuzzy-dedup pipeline a training-data run executes:
    q59's blocked levenshtein pairs → connected components
    (dedup_clusters' path-halving min-label propagation) → one survivor
    per cluster (the min doc id) with its cluster size. Oracle: the
    same pair CTEs + a recursive-CTE transitive closure (q45's
    pattern)."""
    docs = load_table(spark, sf_dir, "documents", scatter=True)
    pairs = dd.levenshtein_near_pairs(docs, threshold=0.4)
    clusters = dd.dedup_clusters(docs, pairs)
    return (
        clusters.groupBy(F.col("cluster_id").alias("survivor_id"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy("survivor_id")
    )


@_declare(
    "q60_tfidf_top_term",
    r"""
    WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) t FROM documents),
    tf AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) f FROM tok GROUP BY 1, 2),
    df AS (SELECT t, CAST(COUNT(DISTINCT doc_id) AS BIGINT) d FROM tf GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM documents),
    s AS (SELECT tf.doc_id, tf.t, ROUND(tf.f * ln(n.n * 1.0 / df.d), 4) + 0 score
          FROM tf JOIN df USING (t) CROSS JOIN n),
    r AS (SELECT doc_id, t, score,
          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, t) rn FROM s)
    SELECT doc_id, t AS top_term, score FROM r WHERE rn = 1 ORDER BY doc_id
    """,
)
def q60(spark, sf_dir):
    """Highest-TF-IDF term per document. Plan: token explode → (doc,
    term) hash agg → term document-frequency hash agg (re-used from tf,
    not a rescan) → broadcast the tiny df/N sides back → per-doc top-1
    window. All map-side combinable aggs; the corpus is scanned once.
    N is computed INSIDE the plan (broadcast single-row crossJoin), so
    building this query triggers zero Spark jobs — pinned for the whole
    registry by tests/test_plans.py::test_declaring_queries_runs_no_jobs."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tx.tokens(F.col("text"))).alias("t"))
    tf = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("f"))
    dfreq = tf.groupBy("t").agg(F.countDistinct("doc_id").alias("d"))
    n_df = docs.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    score = F.round(F.col("f") * F.log(F.col("_n") / F.col("d")), 4) + F.lit(0.0)
    s = (
        tf.join(F.broadcast(dfreq), "t")
        .crossJoin(F.broadcast(n_df))
        .select("doc_id", "t", score.alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("t"))
    return (
        s.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("t").alias("top_term"), "score")
        .orderBy("doc_id")
    )


_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


@_declare(
    "q61_pivot",
    """
    SELECT user_id,
      CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) n_view,
      CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) n_click,
      CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) n_purchase,
      CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT) n_signup,
      CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) n_error
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def q61(spark, sf_dir):
    """Cross-tab via the DataFrame pivot API. The explicit value list
    matters at scale: without it Spark runs an extra distinct pass over
    the pivot column to discover values."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.groupBy("user_id").pivot("event_type", _EVENT_TYPES).count()
    return p.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
    ).orderBy("user_id")


@_declare(
    "q62_cube",
    """
    SELECT event_type, CAST(hour(ts) AS BIGINT) h, CAST(COUNT(*) AS BIGINT) n,
           ROUND(SUM(value), 4) + 0 s
    FROM events GROUP BY CUBE (event_type, h)
    ORDER BY event_type NULLS FIRST, h NULLS FIRST
    """,
)
def q62(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.cube("event_type", F.hour("ts").cast("long").alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.round(F.sum("value"), 4) + F.lit(0.0)).alias("s"),
        )
        .orderBy(F.asc_nulls_first("event_type"), F.asc_nulls_first("h"))
    )


@_declare(
    "q63_stats_aggs",
    """
    SELECT event_type,
      ROUND(corr(value, user_id), 4) + 0 c,
      ROUND(covar_samp(value, user_id), 4) + 0 cv,
      ROUND(stddev_samp(value), 4) + 0 sd
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q63(spark, sf_dir):
    """Statistical aggregate family: Pearson correlation, sample
    covariance, sample stddev per group — single-pass co-moment
    aggregates with map-side partial merge in both engines."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            (F.round(F.corr("value", "user_id"), 4) + F.lit(0.0)).alias("c"),
            (F.round(F.covar_samp("value", "user_id"), 4) + F.lit(0.0)).alias("cv"),
            (F.round(F.stddev_samp("value"), 4) + F.lit(0.0)).alias("sd"),
        )
        .orderBy("event_type")
    )


@_declare(
    "q64_approx_percentiles",
    """
    SELECT event_type,
           ROUND(quantile_disc(value, 0.5), 4) + 0 p50,
           ROUND(quantile_disc(value, 0.95), 4) + 0 p95,
           ROUND(quantile_disc(value, 0.99), 4) + 0 p99
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q64(spark, sf_dir):
    """The sketch twin of q55: `approx_percentile` (Greenwald-Khanna
    summary, map-side combinable — the 100 TB percentile path q55's
    docstring promises, declared and gated here). Oracle: at the
    gate's sf0.01 every group holds ~2k values < the 10k accuracy
    parameter, so the GK summary retains all samples and the result is
    the exact discrete order statistic — bit-identical to DuckDB's
    `quantile_disc` (verified empirically across all groups). Beyond
    that size the sketch's ±1/accuracy rank-error contract takes over,
    pinned by tests/test_extensions.py::test_approx_percentile_error_bound."""
    ev = load_table(spark, sf_dir, "events")
    pct = F.approx_percentile(
        "value", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)), F.lit(10000)
    )
    return (
        ev.groupBy("event_type")
        .agg(pct.alias("p"))
        .select(
            "event_type",
            *[
                (F.round(F.col("p")[i], 4) + F.lit(0.0)).alias(name)
                for i, name in enumerate(["p50", "p95", "p99"])
            ],
        )
        .orderBy("event_type")
    )


@_declare("q66_approx_distinct", None)
def q66(spark, sf_dir):
    """Per-group approximate distinct users — the HyperLogLog++ member
    of the sketch-agg family (q64 = rank sketch, this = cardinality
    sketch): fixed-size register state, map-side combinable, the only
    sane COUNT(DISTINCT) at 100 TB. Declared rows-only: HLL estimates
    are engine-specific (DuckDB's approx_count_distinct is its own HLL;
    at the sf0.01 gate Spark's linear-counting regime happens to be
    exact, but that is a numeric coincidence, not a contract — unlike
    q64's retain-all-samples argument). The ±rsd accuracy contract is
    pinned by tests/test_extensions.py::test_approx_distinct_error_bound."""
    from ..session import interpreted_projection_session

    # r11: rsd=0.01 means a ~1600-slot HLL aggregation buffer whose
    # generated projections cost ~0.6 s per EXECUTION at any input size
    # (see interpreted_projection_session) — run this plan interpreted;
    # bit-identical registers, 3-4x faster at every scale
    spark = interpreted_projection_session(spark)
    ev = load_table(spark, sf_dir, "events")
    # rsd 0.01: m = (1.106/rsd)^2 ≈ 12k registers — sketch state per
    # group-partial stays KBs (0.005 quadruples it for little gain)
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.01).alias("approx_users")
        )
        .orderBy("event_type")
    )


@_declare(
    "q67_sequence_packing",
    r"""
    WITH RECURSIVE d AS (
      SELECT doc_id, source,
             len(regexp_extract_all(text, '\S+')) nt,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) rn
      FROM documents),
    rec(source, rn, doc_id, nt, fill, pack) AS (
      SELECT source, rn, doc_id, nt, nt, 0 FROM d WHERE rn = 1
      UNION ALL
      SELECT d.source, d.rn, d.doc_id, d.nt,
             CASE WHEN r.fill + d.nt > 512 THEN d.nt ELSE r.fill + d.nt END,
             CASE WHEN r.fill + d.nt > 512 THEN r.pack + 1 ELSE r.pack END
      FROM rec r JOIN d ON d.source = r.source AND d.rn = r.rn + 1)
    SELECT doc_id, source, CAST(nt AS BIGINT) n_tokens,
           CAST(pack AS BIGINT) pack_idx
    FROM rec ORDER BY doc_id
    """,
)
def q67(spark, sf_dir):
    """Greedy sequence packing (operators/sampling.pack_greedy): docs
    fill fixed 512-token training sequences per source in doc_id order.
    The group is the parallelism unit (applyInPandas, one sequential
    Arrow batch per source — at 100 TB the group key adds a shard
    column, see the operator docstring); the oracle replays the same
    greedy recurrence as a recursive CTE."""
    docs = load_table(spark, sf_dir, "documents")
    return smp.pack_greedy(docs, max_tokens=512).orderBy("doc_id")


@_declare(
    "q68_doc_chunking",
    r"""
    WITH d AS (SELECT doc_id, regexp_extract_all(text, '\S+') tk FROM documents),
    s AS (SELECT doc_id, tk, len(tk) n,
                 list_filter(range(0, greatest(len(tk), 1), 48),
                             s -> len(tk) > 0 AND (s = 0 OR s + 16 < len(tk))) starts
          FROM d),
    e AS (SELECT doc_id, tk, unnest(starts) st FROM s),
    r AS (SELECT doc_id, st, tk[st+1 : st+64] piece,
                 ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY st) - 1 chunk_idx
          FROM e)
    SELECT doc_id, CAST(chunk_idx AS BIGINT) chunk_idx,
           CAST(len(piece) AS BIGINT) n_chunk_tokens,
           array_to_string(piece, ' ') chunk_text
    FROM r ORDER BY doc_id, chunk_idx
    """,
)
def q68(spark, sf_dir):
    """Overlapping fixed-token document chunking (64-token chunks,
    stride 48) — functions/text.chunk_documents: pure sequence/filter/
    posexplode/slice expressions, no UDF, whole-stage codegen end to
    end."""
    # r11: scatter the single-row-group scan — the tokenize+chunk
    # explode otherwise runs as ONE task (finding 1)
    docs = load_table(spark, sf_dir, "documents", scatter=True)
    return tx.chunk_documents(docs, chunk_size=64, stride=48).orderBy(
        "doc_id", "chunk_idx"
    )


@_declare(
    "q69_ewma",
    """
    WITH RECURSIVE e AS (
      SELECT user_id, event_id, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) rn
      FROM events WHERE user_id < 30),
    rec(user_id, rn, event_id, ts, value, y) AS (
      SELECT user_id, rn, event_id, ts, value, value FROM e WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.rn, e.event_id, e.ts, e.value,
             (1 - 0.3) * r.y + 0.3 * e.value
      FROM rec r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
    SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) ts_s,
           ROUND(value, 4) + 0 AS value, ROUND(y, 4) + 0 ewma
    FROM rec ORDER BY user_id, event_id
    """,
)
def q69(spark, sf_dir):
    """Per-stream EWMA smoothing (α=0.3) — operators/timeseries.ewma,
    the derived-stream recurrence family (reference derive operators,
    SURVEY §2.5) extended with exponential smoothing. Spark evaluates
    the recurrence per key in one Arrow batch with the exact
    ``(1−α)·y + α·x`` expression shape the oracle's recursive CTE
    replays, so doubles agree bit-for-bit."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    sm = tso.ewma(ev, key="user_id", value_col="value", alpha=0.3)
    return sm.select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("ts_s"),
        (F.round("value", 4) + F.lit(0.0)).alias("value"),
        (F.round("ewma", 4) + F.lit(0.0)).alias("ewma"),
    ).orderBy("user_id", "event_id")


@_declare(
    "q70_stratified_sample",
    r"""
    WITH u AS (SELECT doc_id, source,
               (('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 * 1.0 / 4294967296.0) u
               FROM documents),
    r AS (SELECT doc_id, source, u,
                 ROW_NUMBER() OVER (PARTITION BY source ORDER BY u, doc_id) rk
          FROM u)
    SELECT doc_id, source, u FROM r WHERE rk <= 5 ORDER BY doc_id
    """,
)
def q70(spark, sf_dir):
    """Deterministic exact-k stratified sampling (5 docs per source):
    rows ranked inside each stratum by their portable md5 draw — the
    reproducible-reservoir step for building eval slices / annotation
    batches from a corpus. One window per group; no RNG state, no
    partitioning dependence (operators/sampling.stratified_sample)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        smp.stratified_sample(docs, k=5)
        .select("doc_id", "source", "u")
        .orderBy("doc_id")
    )


@_declare(
    "q71_outlier_filter",
    """
    WITH th AS (SELECT event_type, quantile_cont(value, 0.99) p99
                FROM events GROUP BY 1)
    SELECT e.event_type, CAST(COUNT(*) AS BIGINT) n_outliers,
           ROUND(MIN(e.value), 4) + 0 lo, ROUND(MAX(e.value), 4) + 0 hi
    FROM events e JOIN th ON e.event_type = th.event_type
    WHERE e.value > th.p99
    GROUP BY 1 ORDER BY 1
    """,
)
def q71(spark, sf_dir):
    """Percentile-threshold outlier filtering — the agg→broadcast-back
    composition: per-type p99 (exact here so the oracle pins values; at
    100 TB swap the q64 sketch) broadcast-joins back onto the stream and
    filters map-side. The corpus is scanned twice but shuffled only for
    the tiny threshold aggregate; the filter itself is row-local."""
    ev = load_table(spark, sf_dir, "events")
    th = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.99)).alias("_p99")
    )
    return (
        ev.join(F.broadcast(th), "event_type")
        .filter(F.col("value") > F.col("_p99"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_outliers"),
            (F.round(F.min("value"), 4) + F.lit(0.0)).alias("lo"),
            (F.round(F.max("value"), 4) + F.lit(0.0)).alias("hi"),
        )
        .orderBy("event_type")
    )


def _mh_band_ctes(src: str, p: str) -> str:
    """DuckDB CTE block computing the md5-minhash band table
    ``{p}b(doc_id, band, bkey)`` and shingle table ``{p}t(doc_id, sh)``
    over source relation ``src`` — the q48/q59 signature machinery,
    parameterized so cross-corpus oracles (q72) reuse it per side."""
    return rf"""
    {p}d AS (SELECT doc_id, regexp_extract_all(text, '\S+') tk FROM {src}),
    {p}t AS (SELECT doc_id, CASE WHEN len(tk) >= 3
               THEN list_distinct(list_transform(range(1, len(tk) - 1),
                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
               ELSE [] END sh FROM {p}d),
    {p}s AS (SELECT doc_id, unnest(sh) sh FROM {p}t),
    {p}m AS (SELECT doc_id, seed.s seed,
                    MIN(md5(CAST(seed.s AS VARCHAR) || ':' || sh)) mh
             FROM {p}s CROSS JOIN (SELECT unnest(range(0, 16)) s) seed
             GROUP BY 1, 2),
    {p}b AS (SELECT doc_id, CAST(seed // 2 AS BIGINT) band,
                    md5(string_agg(mh, ',' ORDER BY seed)) bkey
             FROM {p}m GROUP BY 1, 2)"""


@_declare(
    "q72_fuzzy_decontaminate",
    f"""
    WITH tr AS (SELECT * FROM documents WHERE doc_id % 3 != 0),
    ev AS (SELECT * FROM documents WHERE doc_id % 3 = 0),
    {_mh_band_ctes('tr', 'x')},
    {_mh_band_ctes('ev', 'y')},
    c AS (SELECT DISTINCT xb.doc_id t_id, yb.doc_id e_id
          FROM xb JOIN yb ON xb.band = yb.band AND xb.bkey = yb.bkey),
    v AS (SELECT c.t_id,
                 len(list_intersect(p.sh, q.sh)) * 1.0
                 / NULLIF(len(list_distinct(list_concat(p.sh, q.sh))), 0) j
          FROM c JOIN xt p ON p.doc_id = c.t_id
                 JOIN yt q ON q.doc_id = c.e_id),
    h AS (SELECT t_id, CAST(COUNT(*) AS BIGINT) nm, MAX(j) mj
          FROM v WHERE j >= 0.5 GROUP BY 1)
    SELECT tr.doc_id, COALESCE(h.nm, 0) n_matches,
           ROUND(COALESCE(h.mj, 0.0), 4) + 0 max_jaccard,
           COALESCE(h.nm, 0) > 0 contaminated
    FROM tr LEFT JOIN h ON h.t_id = tr.doc_id ORDER BY tr.doc_id
    """,
)
def q72(spark, sf_dir):
    """Fuzzy decontamination (operators/decontaminate.fuzzy_contaminated):
    train docs that are NEAR-duplicates (verified jaccard ≥ 0.5) of any
    eval doc, found via cross-corpus md5-minhash band candidates — what
    exact-gram q54 misses when benchmarks leak with drift. The mod-3
    split intentionally separates a planted near-dup pair (jaccard 0.97)
    across train/eval so the match path is live at the gate."""
    docs = load_table(spark, sf_dir, "documents", scatter=True)
    ev = docs.filter(F.col("doc_id") % 3 == 0)
    train = docs.filter(F.col("doc_id") % 3 != 0)
    return (
        dc.fuzzy_contaminated(train, ev, threshold=0.5)
        .select(
            "doc_id",
            "n_matches",
            (F.round("max_jaccard", 4) + F.lit(0.0)).alias("max_jaccard"),
            "contaminated",
        )
        .orderBy("doc_id")
    )


@_declare(
    "q73_gap_detection",
    """
    WITH o AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) e,
               LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) pe
               FROM events)
    SELECT user_id, pe gap_start_s, e gap_end_s, e - pe gap_seconds
    FROM o WHERE e - pe >= 28800 ORDER BY user_id, gap_start_s, gap_end_s
    """,
)
def q73(spark, sf_dir):
    """Dead-stream / silence detection (operators/timeseries.detect_gaps):
    per-user gaps of ≥ 8 h between consecutive events — one lag window
    per key, the monitoring complement of the downsample cascade."""
    ev = load_table(spark, sf_dir, "events")
    return tso.detect_gaps(ev, min_gap_seconds=28_800).orderBy(
        "user_id", "gap_start_s", "gap_end_s"
    )


@_declare(
    "q74_value_histogram",
    """
    SELECT event_type, CAST(floor(value / 25) AS BIGINT) bin,
           CAST(COUNT(*) AS BIGINT) n
    FROM events WHERE value IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q74(spark, sf_dir):
    """Fixed-width value histogram per group — the distribution
    downsampler (A-family extension): one hash agg on (group, bin),
    map-side combinable, the building block for distribution drift
    monitoring over value streams."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return (
        ev.groupBy(
            "event_type", F.floor(F.col("value") / 25).cast("long").alias("bin")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "bin")
    )


# --------------------------------------------------------------------------
# OLAP classics over the star schema (TPC-H Q1/Q3 shapes) — the canonical
# large-fact aggregation and dim-join-topk patterns a 100 TB engine lives on
# --------------------------------------------------------------------------


@_declare(
    "q75_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 4) + 0 sum_qty,
           ROUND(SUM(l_extendedprice), 4) + 0 sum_base,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) + 0 sum_disc,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) + 0 sum_charge,
           ROUND(AVG(l_quantity), 4) + 0 avg_qty,
           ROUND(AVG(l_discount), 4) + 0 avg_disc,
           CAST(COUNT(*) AS BIGINT) n
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q75(spark, sf_dir):
    """TPC-H Q1 shape: the canonical fact-table scan-heavy aggregation —
    pushed date filter, one hash agg with map-side partials over a
    handful of group keys, arithmetic in whole-stage codegen. The
    pattern every reporting rollup at 100 TB reduces to."""
    li = load_table(
        spark, sf_dir, "lineitem",
        ts_filters=[("l_shipdate", "<=", "1998-09-02 00:00:00")],
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.round(F.sum("l_quantity"), 4) + F.lit(0.0)).alias("sum_qty"),
            (F.round(F.sum("l_extendedprice"), 4) + F.lit(0.0)).alias("sum_base"),
            (F.round(F.sum(disc), 4) + F.lit(0.0)).alias("sum_disc"),
            (F.round(F.sum(disc * (1 + F.col("l_tax"))), 4) + F.lit(0.0)).alias("sum_charge"),
            (F.round(F.avg("l_quantity"), 4) + F.lit(0.0)).alias("avg_qty"),
            (F.round(F.avg("l_discount"), 4) + F.lit(0.0)).alias("avg_disc"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@_declare(
    "q76_shipping_priority",
    """
    SELECT l.l_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) + 0 revenue,
           CAST(floor(epoch(o.o_orderdate)) AS BIGINT) odate_s,
           o.o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY 1, 3, 4
    ORDER BY revenue DESC, odate_s ASC, l_orderkey ASC LIMIT 10
    """,
)
def q76(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter → join fact → top-k by an
    aggregate. Customer (filtered) broadcasts into orders, orders-side
    keys join lineitem; the final top-10 is a TakeOrdered, never a full
    sort. Deterministic total tiebreak (revenue, date, orderkey)."""
    cu = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    od = load_table(
        spark, sf_dir, "orders",
        ts_filters=[("o_orderdate", "<", "1998-03-15 00:00:00")],
    )
    li = load_table(
        spark, sf_dir, "lineitem",
        ts_filters=[("l_shipdate", ">", "1998-03-15 00:00:00")],
    )
    return (
        li.join(
            od.join(F.broadcast(cu), od["o_custkey"] == cu["c_custkey"]),
            li["l_orderkey"] == od["o_orderkey"],
        )
        .groupBy(
            "l_orderkey",
            F.unix_timestamp("o_orderdate").alias("odate_s"),
            "o_orderpriority",
        )
        .agg(
            (
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
                )
                + F.lit(0.0)
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "odate_s", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("odate_s"), F.asc("l_orderkey"))
        .limit(10)
    )


@_declare(
    "q55_value_percentiles",
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 4) + 0 p50,
           ROUND(quantile_cont(value, 0.95), 4) + 0 p95,
           ROUND(quantile_cont(value, 0.99), 4) + 0 p99
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q55(spark, sf_dir):
    """Exact interpolated percentiles per event_type — the percentile
    downsampler family (Spark `percentile` == DuckDB `quantile_cont`,
    both linear interpolation on the sorted set). Exact percentile is a
    full-sort-per-group agg; at 100 TB swap in `approx_percentile`
    (t-digest-style sketch, map-side combinable) — declared exact here
    so the oracle can pin values bit-for-bit."""
    ev = load_table(spark, sf_dir, "events")
    pct = F.percentile("value", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)))
    return (
        ev.groupBy("event_type")
        .agg(pct.alias("p"))
        .select(
            "event_type",
            *[
                (F.round(F.col("p")[i], 4) + F.lit(0.0)).alias(name)
                for i, name in enumerate(["p50", "p95", "p99"])
            ],
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Q77/Q78 exact duplicate-span mining (operators/spans.py)
# --------------------------------------------------------------------------
@_declare(
    "q77_dup_ngram_spans",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents
    ), grams AS (
      SELECT doc_id, md5(array_to_string(t[i:i+11], ' ')) AS gram_h
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 11)) AS i)
    )
    SELECT gram_h,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) n_docs,
           CAST(COUNT(*) AS BIGINT) n_occ
    FROM grams GROUP BY gram_h HAVING COUNT(DISTINCT doc_id) >= 2
    ORDER BY gram_h
    """,
)
def q77(spark, sf_dir):
    """Exact substring (word-12-gram) duplicate spans across the corpus
    (Lee et al. 2022 span dedup, word granularity).  One narrow explode
    + one hash agg keyed on a fixed-width md5 digest; the >=2-docs
    filter runs inside the aggregation so only duplicated grams leave
    the shuffle.  Linear in corpus tokens at any scale."""
    from ..operators import spans as sp

    docs = load_table(spark, sf_dir, "documents", scatter=True)
    return sp.duplicate_ngram_spans(docs, n=12, min_docs=2).orderBy("gram_h")


@_declare(
    "q78_span_dup_coverage",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents
    ), grams AS (
      SELECT doc_id, i, md5(array_to_string(t[i:i+11], ' ')) AS gram_h
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 11)) AS i)
    ), dup AS (
      SELECT gram_h FROM grams GROUP BY gram_h
      HAVING COUNT(DISTINCT doc_id) >= 2
    ), cov AS (
      SELECT DISTINCT g.doc_id, p.tok
      FROM grams g JOIN dup USING (gram_h),
           LATERAL (SELECT unnest(generate_series(g.i, g.i + 11)) AS tok) p
    ), cnt AS (
      SELECT doc_id, COUNT(*) AS covered FROM cov GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.t) AS BIGINT) n_tokens,
           CAST(COALESCE(c.covered, 0) AS BIGINT) covered,
           ROUND(COALESCE(c.covered, 0) * 1.0 / NULLIF(len(t.t), 0), 4) + 0 dup_ratio
    FROM toks t LEFT JOIN cnt c USING (doc_id) ORDER BY t.doc_id
    """,
)
def q78(spark, sf_dir):
    """Per-document duplicated-span coverage: the fraction of token
    positions inside any cross-document 12-gram — the quality-filter
    score that drops boilerplate-heavy docs.  Overlapping spans merge
    via distinct covered positions; every stage keys on the gram digest
    or the doc id, nothing corpus-global."""
    from ..operators import spans as sp

    docs = load_table(spark, sf_dir, "documents", scatter=True)
    out = sp.span_dup_coverage(docs, n=12, min_docs=2)
    return out.withColumn(
        "dup_ratio", F.col("dup_ratio") + F.lit(0.0)
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Q79 PII redaction (functions/text.py PII_PATTERNS)
# --------------------------------------------------------------------------
def _pii_contact_expr_sql() -> str:
    """The deterministic contact-string constructor, DuckDB SQL form.
    The testdata corpus is PII-free word soup, so the declared query
    plants PII deterministically from event columns — non-vacuous
    redaction the oracle reproduces bit-for-bit."""
    return (
        "concat('reach u', CAST(user_id AS VARCHAR), '@example.org or +1-555-', "
        "lpad(CAST(event_id % 1000 AS VARCHAR), 3, '0'), '-', "
        "lpad(CAST(user_id % 10000 AS VARCHAR), 4, '0'), ' from 10.', "
        "CAST(user_id % 256 AS VARCHAR), '.', CAST(event_id % 256 AS VARCHAR), '.7')"
    )


def _pii_oracle_sql() -> str:
    from ..functions.text import PII_PATTERNS

    contact = _pii_contact_expr_sql()
    red = "contact"
    for pattern, token in PII_PATTERNS.values():
        red = f"regexp_replace({red}, '{pattern}', '{token}', 'g')"
    counts = ", ".join(
        f"CAST(len(regexp_extract_all(contact, '{p}', 0)) AS BIGINT) n_{c}"
        for c, (p, _) in PII_PATTERNS.items()
    )
    return f"""
    WITH base AS (
      SELECT event_id, {contact} AS contact FROM events
    )
    SELECT event_id, {red} AS redacted, {counts}
    FROM base ORDER BY event_id
    """


@_declare("q79_pii_redaction", _pii_oracle_sql())
def q79(spark, sf_dir):
    """PII redaction over deterministic planted contact strings: the
    regexp_replace chain from PII_PATTERNS (email -> phone -> ipv4)
    plus per-category audit counts on the original text. Pure column
    expressions — whole-stage codegen end to end, trivially linear at
    any corpus size.

    Plan shape (optimization r11, guide §1.4/§2.4): the final orderBy
    runs BELOW the regex projection — range-partition sampling
    re-executes the sort's child, so sorting the two narrow id columns
    first and projecting the 6-regex chain above the Sort halves the
    query (the regex tail is evaluated once, and the sampling pass
    reads only two longs from parquet). Measured 3.72 s → 1.84 s at
    sf0.1; row order is unchanged (per-row projection over a sorted
    exchange preserves order)."""
    ev = load_table(spark, sf_dir, "events")
    contact = F.concat(
        F.lit("reach u"), F.col("user_id").cast("string"),
        F.lit("@example.org or +1-555-"),
        F.lpad((F.col("event_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("user_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."),
        (F.col("user_id") % 256).cast("string"),
        F.lit("."),
        (F.col("event_id") % 256).cast("string"),
        F.lit(".7"),
    )
    base = (
        ev.select("event_id", "user_id")
        .orderBy("event_id")
        .select("event_id", contact.alias("contact"))
    )
    cnts = tx.pii_counts(F.col("contact"))
    return base.select(
        "event_id",
        tx.redact_pii(F.col("contact")).alias("redacted"),
        *[cnts[c].alias(f"n_{c}") for c in cnts],
    )


# --------------------------------------------------------------------------
# Q80-Q82 OLAP classics: TPC-H Q6 / Q5 / Q18 shapes
# --------------------------------------------------------------------------
@_declare(
    "q80_forecast_revenue",
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 4) + 0 revenue,
           CAST(COUNT(*) AS BIGINT) n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q80(spark, sf_dir):
    """TPC-H Q6 shape: the purest pushdown benchmark — every predicate
    reaches the parquet scan (date bounds as raw-ns min/max row-group
    filters via ts_filters, discount/quantity as native pushed
    filters), then a single global agg with map-side partials. The
    plan is scan -> filter -> partial agg -> 1-row exchange; at 100 TB
    the only full pass is the (pruned) scan itself."""
    li = load_table(
        spark, sf_dir, "lineitem",
        ts_filters=[
            ("l_shipdate", ">=", "1996-01-01 00:00:00"),
            ("l_shipdate", "<", "1997-01-01 00:00:00"),
        ],
    ).filter(
        F.col("l_discount").between(0.05, 0.07) & (F.col("l_quantity") < 24)
    )
    return li.agg(
        (
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4)
            + F.lit(0.0)
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@_declare(
    "q81_local_supplier_volume",
    """
    SELECT n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) + 0 revenue
    FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
                     AND c.c_nationkey = s.s_nationkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name ORDER BY revenue DESC, n.n_name
    """,
)
def q81(spark, sf_dir):
    """TPC-H Q5 shape: multi-join with a region-filtered dim chain and
    the customer-nation = supplier-nation co-location predicate.
    nation |><| region is broadcast into supplier (5 + 25 rows at any
    SF); the fact path shuffles lineitem -> orders -> customer on
    their natural keys; the supplier join carries the nationkey
    equality so 4/5 of suppliers are pruned before the fact join.
    Region/nation broadcasts are size-constant at 100 TB; supplier
    stays a shuffle join (it grows with SF)."""
    asia = (
        load_table(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "region").filter(
                    F.col("r_name") == "ASIA"
                )
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    sup = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(asia), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    od = load_table(
        spark, sf_dir, "orders",
        ts_filters=[
            ("o_orderdate", ">=", "1996-01-01 00:00:00"),
            ("o_orderdate", "<", "1997-01-01 00:00:00"),
        ],
    )
    cu = load_table(spark, sf_dir, "customer")
    ord_cust = od.join(cu, od["o_custkey"] == cu["c_custkey"]).select(
        "o_orderkey", "c_nationkey"
    )
    li = load_table(spark, sf_dir, "lineitem")
    fact = li.join(ord_cust, li["l_orderkey"] == F.col("o_orderkey"))
    return (
        fact.join(
            sup,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            (
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
                )
                + F.lit(0.0)
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@_declare(
    "q82_large_orders",
    """
    WITH big AS (
      SELECT l_orderkey, SUM(l_quantity) sq
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(floor(epoch(o.o_orderdate)) AS BIGINT) odate_s,
           o.o_totalprice,
           ROUND(b.sq, 4) + 0 sum_qty
    FROM big b
      JOIN orders o ON o.o_orderkey = b.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, odate_s ASC, o.o_orderkey ASC
    LIMIT 100
    """,
)
def q82(spark, sf_dir):
    """TPC-H Q18 shape: find-the-whales — a two-phase aggregate over
    the fact table (map-side partial sums, HAVING inside the agg so
    only whale orderkeys leave the shuffle), then join the tiny
    survivor set back to orders and customer, finishing in a
    TakeOrdered top-100 with a deterministic total tiebreak. The
    whale set shrinks with the threshold, so both back-joins are
    AQE-broadcastable at any SF."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 300)
    )
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    return (
        big.join(od, od["o_orderkey"] == big["l_orderkey"])
        .join(cu, cu["c_custkey"] == od["o_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.unix_timestamp("o_orderdate").alias("odate_s"),
            "o_totalprice",
            (F.round(F.col("sq"), 4) + F.lit(0.0)).alias("sum_qty"),
        )
        .orderBy(
            F.desc("o_totalprice"), F.asc("odate_s"), F.asc("o_orderkey")
        )
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q83 salted skew join (operators/joins.py)
# --------------------------------------------------------------------------
@_declare(
    "q83_salted_skew_join",
    """
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) n_events,
           ROUND(SUM(e.value), 4) + 0 sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """,
)
def q83(spark, sf_dir):
    """Hot-key fact |><| dim join via explicit salting: events carry
    ~150 distinct user_ids over millions of rows, the canonical shape
    where one shuffle partition would serialize a hot key. The fact
    side gets a deterministic xxhash64(event_id) % 16 salt, the dim is
    replicated 16x, and the join key becomes (user, salt) — same
    result set, 16x the key cardinality through the shuffle. The
    aggregate after it is two-phase as usual."""
    from ..operators.joins import salted_join

    ev = load_table(spark, sf_dir, "events")
    cu = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = salted_join(
        ev, cu, F.col("user_id") == F.col("c_custkey"),
        n_salts=16, salt_cols=["event_id"],
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.round(F.sum("value"), 4) + F.lit(0.0)).alias("sum_value"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# Q84 robust outliers (median absolute deviation), Q85 grouping sets
# --------------------------------------------------------------------------
@_declare(
    "q84_mad_outliers",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) m
      FROM events GROUP BY event_type
    ), mad AS (
      SELECT e.event_type, ANY_VALUE(med.m) m,
             quantile_cont(abs(e.value - med.m), 0.5) d
      FROM events e JOIN med USING (event_type)
      GROUP BY e.event_type
    )
    SELECT e.event_type,
           ROUND(ANY_VALUE(mad.m), 4) + 0 med,
           ROUND(ANY_VALUE(mad.d), 4) + 0 mad,
           CAST(SUM(CASE WHEN abs(e.value - mad.m) > 3 * 1.4826 * mad.d
                         THEN 1 ELSE 0 END) AS BIGINT) n_outliers
    FROM events e JOIN mad USING (event_type)
    GROUP BY e.event_type ORDER BY e.event_type
    """,
)
def q84(spark, sf_dir):
    """Robust per-group outlier detection: median + MAD (median of
    absolute deviations), flagging |x - med| > 3 * 1.4826 * MAD — the
    robust z-score that, unlike the q71 percentile filter, is immune
    to the outliers inflating their own threshold. Three passes over
    the fact, each a hash agg on the (tiny) event_type key with the
    per-type medians broadcast back; at 100 TB the exact percentile
    swaps for approx_percentile and the shape is unchanged."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("m")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value("m").alias("m"),
            F.percentile(F.abs(F.col("value") - F.col("m")), F.lit(0.5)).alias("d"),
        )
    )
    return (
        ev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            (F.round(F.any_value("m"), 4) + F.lit(0.0)).alias("med"),
            (F.round(F.any_value("d"), 4) + F.lit(0.0)).alias("mad"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("m"))
                    > 3 * 1.4826 * F.col("d"),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_outliers"),
        )
        .orderBy("event_type")
    )


@_declare(
    "q85_grouping_sets",
    """
    SELECT event_type,
           user_id,
           CAST(GROUPING(event_type) * 2 + GROUPING(user_id) AS BIGINT) gid,
           CAST(COUNT(*) AS BIGINT) n,
           ROUND(SUM(value), 4) + 0 sum_value
    FROM events
    GROUP BY GROUPING SETS ((event_type), (user_id), ())
    ORDER BY gid, event_type, user_id
    """,
)
def q85(spark, sf_dir):
    """Explicit GROUPING SETS — the multi-dimensional rollup shape
    cube/rollup (q62/q14) can't express: exactly the (event_type),
    (user_id), and grand-total groupings, no cross products. One
    Expand + one hash agg; the expand factor is the number of sets
    (3), independent of data size."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupingSets(
            [[F.col("event_type")], [F.col("user_id")], []],
            F.col("event_type"),
            F.col("user_id"),
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            (F.round(F.sum("value"), 4) + F.lit(0.0)).alias("sum_value"),
        )
        .select("event_type", "user_id", "gid", "n", "sum_value")
        .orderBy("gid", "event_type", "user_id")
    )


# --------------------------------------------------------------------------
# Q86 end-to-end clean-corpus pipeline (dedup -> quality -> span -> redact)
# --------------------------------------------------------------------------
def _q86_oracle_sql() -> str:
    from ..functions.text import PII_PATTERNS

    red = "s.text"
    for pattern, token in PII_PATTERNS.values():
        red = f"regexp_replace({red}, '{pattern}', '{token}', 'g')"
    return rf"""
    WITH fp AS (
      SELECT doc_id, text,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) f,
             len(regexp_extract_all(text, '\S+')) nt,
             length(regexp_replace(text, '[^.!?,;:]', '', 'g')) * 1.0
               / NULLIF(length(text), 0) pr
      FROM documents
    ), surv AS (
      SELECT fp.* FROM fp
      JOIN (SELECT f, MIN(doc_id) keep FROM fp GROUP BY f) k
        ON fp.f = k.f AND fp.doc_id = k.keep
    ), toks AS (
      SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM surv
    ), grams AS (
      SELECT doc_id, i, md5(array_to_string(t[i:i+11], ' ')) AS gram_h
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 11)) AS i)
    ), dup AS (
      SELECT gram_h FROM grams GROUP BY gram_h
      HAVING COUNT(DISTINCT doc_id) >= 2
    ), cov AS (
      SELECT DISTINCT g.doc_id, p.tok
      FROM grams g JOIN dup USING (gram_h),
           LATERAL (SELECT unnest(generate_series(g.i, g.i + 11)) AS tok) p
    ), cnt AS (
      SELECT doc_id, COUNT(*) AS covered FROM cov GROUP BY doc_id
    )
    SELECT s.doc_id,
           CAST(s.nt AS BIGINT) n_tokens,
           ROUND(COALESCE(c.covered, 0) * 1.0 / NULLIF(s.nt, 0), 4) + 0 dup_ratio,
           md5({red}) clean_fp
    FROM surv s LEFT JOIN cnt c USING (doc_id)
    WHERE s.nt >= 5 AND COALESCE(s.pr, 0) < 0.2
      AND COALESCE(c.covered, 0) * 1.0 / NULLIF(s.nt, 0) < 0.5
    ORDER BY s.doc_id
    """


@_declare("q86_clean_corpus_pipeline", _q86_oracle_sql())
def q86(spark, sf_dir):
    """The whole training-data pipeline as ONE declarative plan:
    exact-dedup survivors -> quality thresholds (q47's) -> span-level
    boilerplate coverage < 0.5 (q78's metric, computed on the deduped
    corpus so exact copies don't inflate it) -> PII-redacted content
    fingerprint. No intermediate materialization; Catalyst sees one
    DAG and shares the survivor scan between the quality filter and
    the span explode. Every stage is a hash agg or broadcast-free
    equi-join keyed on doc_id or a digest — the composition inherits
    each operator's scale shape."""
    from ..operators import spans as sp

    docs = load_table(spark, sf_dir, "documents")
    surv = dd.exact_dedup(docs)
    qm = tx.quality_metrics(F.col("text"))
    cov = sp.span_dup_coverage(surv, n=12, min_docs=2)
    return (
        surv.select(
            "doc_id",
            "text",
            qm["n_tokens"].alias("n_tokens"),
            qm["punct_ratio"].alias("_pr"),
        )
        .join(cov.select("doc_id", "dup_ratio"), "doc_id")
        .filter(
            (F.col("n_tokens") >= 5)
            & (F.coalesce("_pr", F.lit(0.0)) < 0.2)
            & (F.col("dup_ratio") < 0.5)
        )
        .select(
            "doc_id",
            "n_tokens",
            (F.col("dup_ratio") + F.lit(0.0)).alias("dup_ratio"),
            F.md5(tx.redact_pii(F.col("text"))).alias("clean_fp"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Q87-Q89 event analytics: correlation matrix, ordered funnel, retention
# --------------------------------------------------------------------------
@_declare(
    "q87_stream_correlation",
    """
    WITH b AS (
      SELECT event_type, date_trunc('minute', ts) bu, COUNT(*) n
      FROM events GROUP BY 1, 2
    )
    SELECT a.event_type type_a, c.event_type type_b,
           ROUND(corr(a.n, c.n), 4) + 0 r,
           CAST(COUNT(*) AS BIGINT) n_buckets
    FROM b a JOIN b c ON a.bu = c.bu AND a.event_type < c.event_type
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q87(spark, sf_dir):
    """Cross-stream correlation matrix: bucket each event type to
    1-minute counts, then Pearson r over co-present buckets for every
    type pair. The bucket agg is one shuffle on (type, minute); the
    pair join is a self-join on the minute key whose width is the
    number of types (constant), so the join output stays
    |buckets| x |pairs| — linear in time span, independent of raw
    event volume."""
    ev = load_table(spark, sf_dir, "events")
    b = (
        ev.groupBy(
            "event_type", F.date_trunc("minute", "ts").alias("bu")
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    a, c = b.alias("a"), b.alias("c")
    return (
        a.join(
            c,
            (F.col("a.bu") == F.col("c.bu"))
            & (F.col("a.event_type") < F.col("c.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("c.event_type").alias("type_b"),
        )
        .agg(
            # Pearson r spelled out with try_divide: ANSI-mode corr()
            # raises DIVIDE_BY_ZERO on a zero-variance series, while
            # the oracle's corr returns NULL — try_divide matches it
            (
                F.round(
                    F.try_divide(
                        F.covar_samp(F.col("a.n"), F.col("c.n")),
                        F.stddev_samp(F.col("a.n"))
                        * F.stddev_samp(F.col("c.n")),
                    ),
                    4,
                )
                + F.lit(0.0)
            ).alias("r"),
            F.count(F.lit(1)).alias("n_buckets"),
        )
        .orderBy("type_a", "type_b")
    )


@_declare(
    "q88_ordered_funnel",
    """
    WITH s1 AS (
      SELECT user_id, MIN(ts) t1 FROM events WHERE event_type = 'view'
      GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts >= s1.t1
        AND e.ts <= s1.t1 + INTERVAL '6 hours'
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
        AND e.ts <= s2.t2 + INTERVAL '6 hours'
      GROUP BY e.user_id
    )
    SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) n_view,
           CAST((SELECT COUNT(*) FROM s2) AS BIGINT) n_click,
           CAST((SELECT COUNT(*) FROM s3) AS BIGINT) n_purchase
    """,
)
def q88(spark, sf_dir):
    """Strictly-ordered funnel (view -> click -> purchase): each stage
    is min-timestamp-after-previous-stage within a 6-hour conversion
    window, so a user only advances on events in causal order and the
    counts show real attrition (150 -> 19 -> 1 at sf0.01). Three hash aggs on user_id with the
    shrinking stage table joined back (AQE broadcasts it as soon as it
    fits); the counts collapse to one row. The standard product-
    analytics operator the reference's tag queries can't express."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    win = F.expr("INTERVAL 6 HOURS")
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(
            (F.col("ts") >= F.col("t1")) & (F.col("ts") <= F.col("t1") + win)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(
            (F.col("ts") >= F.col("t2")) & (F.col("ts") <= F.col("t2") + win)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(F.broadcast(s2.agg(F.count(F.lit(1)).alias("n_click"))))
        .crossJoin(F.broadcast(s3.agg(F.count(F.lit(1)).alias("n_purchase"))))
    )


@_declare(
    "q89_retention_cohorts",
    """
    WITH first_day AS (
      SELECT user_id, date_trunc('day', MIN(ts)) cohort FROM events
      GROUP BY user_id
    )
    SELECT CAST(floor(epoch(f.cohort)) AS BIGINT) cohort_s,
           CAST(date_diff('day', f.cohort, date_trunc('day', e.ts)) AS BIGINT) day_offset,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) n_users
    FROM events e JOIN first_day f ON e.user_id = f.user_id
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q89(spark, sf_dir):
    """Retention cohort triangle: users grouped by first-seen day,
    counted distinct on each subsequent active day offset. One agg for
    the cohort map (small — one row per user), broadcast back into the
    fact, one distinct-count agg on (cohort, offset). At 100 TB the
    cohort map exceeds broadcast range and the join falls back to
    shuffle-on-user_id, which colocates with the first agg's
    partitioning (no extra exchange)."""
    ev = load_table(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort")
    )
    return (
        ev.join(first_day, "user_id")
        .groupBy(
            F.unix_timestamp("cohort").alias("cohort_s"),
            F.datediff(F.date_trunc("day", "ts"), F.col("cohort"))
            .cast("long")
            .alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_s", "day_offset")
    )


# --------------------------------------------------------------------------
# Q90 nearest-centroid classification (operators/similarity.py)
# --------------------------------------------------------------------------
@_declare(
    "q90_nearest_centroid",
    """
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings
    ), x AS (
      SELECT label, i AS p, v[i] AS val
      FROM e, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i)
    ), cl AS (
      SELECT label, p, AVG(val) c FROM x GROUP BY label, p
    ), cent AS (
      SELECT label cl_label, list(c ORDER BY p) cv FROM cl GROUP BY label
    ), sim AS (
      SELECT e.vec_id, e.label, cent.cl_label,
             list_inner_product(e.v, cent.cv)
             / sqrt(list_inner_product(e.v, e.v)
                    * list_inner_product(cent.cv, cent.cv)) s
      FROM e CROSS JOIN cent
    ), best AS (
      SELECT vec_id, label, cl_label, s,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY s DESC, cl_label ASC) rk
      FROM sim
    )
    SELECT label, cl_label AS assigned,
           CAST(COUNT(*) AS BIGINT) n,
           ROUND(AVG(s), 4) + 0 mean_cos
    FROM best WHERE rk = 1
    GROUP BY label, assigned ORDER BY label, assigned
    """,
)
def q90(spark, sf_dir):
    """Nearest-centroid (Rocchio) classification confusion matrix:
    per-label mean vectors via a posexplode hash agg (|labels| x dim
    output — broadcastable at any corpus size), cosine scoring as a
    map-side broadcast crossJoin, argmax per vector with deterministic
    tiebreak, then the (true, assigned) count matrix."""
    emb = load_table(spark, sf_dir, "embeddings")
    nc = sim.nearest_centroid(emb)
    return (
        nc.groupBy("label", "assigned")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.round(F.avg("cosine"), 4) + F.lit(0.0)).alias("mean_cos"),
        )
        .orderBy("label", "assigned")
    )


# --------------------------------------------------------------------------
# Q91 source scorecard (corpus-profile aggregates driving mix weights)
# --------------------------------------------------------------------------
@_declare(
    "q91_source_scorecard",
    r"""
    WITH base AS (
      SELECT source, lang,
             len(regexp_extract_all(text, '\S+')) nt,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) fp
      FROM documents
    ), per_source AS (
      SELECT source,
             COUNT(*) n_docs,
             AVG(nt) mean_tokens,
             COUNT(DISTINCT fp) n_unique
      FROM base GROUP BY source
    ), lang_counts AS (
      SELECT source, lang, COUNT(*) c FROM base GROUP BY source, lang
    ), ent AS (
      SELECT lc.source,
             -SUM((lc.c * 1.0 / ps.n_docs) * ln(lc.c * 1.0 / ps.n_docs)) h
      FROM lang_counts lc JOIN per_source ps USING (source)
      GROUP BY lc.source
    )
    SELECT ps.source,
           CAST(ps.n_docs AS BIGINT) n_docs,
           ROUND(ps.mean_tokens, 4) + 0 mean_tokens,
           ROUND(1.0 - ps.n_unique * 1.0 / ps.n_docs, 4) + 0 dup_rate,
           ROUND(ent.h, 4) + 0 lang_entropy
    FROM per_source ps JOIN ent USING (source)
    ORDER BY ps.source
    """,
)
def q91(spark, sf_dir):
    """Per-source corpus scorecard: doc count, mean token length,
    within-source exact-duplicate rate (1 - distinct fingerprints /
    docs), and language entropy — the profile a mixing policy weighs
    sources by (q51's weights are exactly this table's downstream).
    Two hash aggs on source and (source, lang) plus a distinct-count;
    all map-side combinable, output is |sources| rows."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        "lang",
        tx.token_count(F.col("text")).alias("nt"),
        tx.fingerprint_md5(F.col("text")).alias("fp"),
    )
    per_source = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("nt").alias("mean_tokens"),
        F.countDistinct("fp").alias("n_unique"),
    )
    lang_counts = base.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("c")
    )
    p = F.col("c") / F.col("n_docs")
    ent = (
        lang_counts.join(
            F.broadcast(per_source.select("source", "n_docs")), "source"
        )
        .groupBy("source")
        .agg((-F.sum(p * F.log(p))).alias("h"))
    )
    return (
        per_source.join(ent, "source")
        .select(
            "source",
            "n_docs",
            (F.round(F.col("mean_tokens"), 4) + F.lit(0.0)).alias("mean_tokens"),
            (
                F.round(1.0 - F.col("n_unique") / F.col("n_docs"), 4)
                + F.lit(0.0)
            ).alias("dup_rate"),
            (F.round(F.col("h"), 4) + F.lit(0.0)).alias("lang_entropy"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Q92 mergeable HLL sketch rollup, Q93 semantic decontamination
# --------------------------------------------------------------------------
@_declare("q92_hll_sketch_rollup", None)
def q92(spark, sf_dir):
    """Mergeable-sketch rollup — the pattern behind incremental distinct
    counts at 100 TB: materialize one DataSketches-HLL sketch per
    (event_type, day) (what a daily batch job would persist alongside
    points_agg), then answer "distinct users per type over all time"
    by UNIONING the fixed-size sketches — never rescanning raw data.
    hll_union_agg is associative/commutative, so the daily sketch
    table re-aggregates to any coarser grain (week, month, all-time)
    at sketch-merge cost. Rows-only: the sketch binary is
    engine-specific; the identity merged == one-shot and the error
    bound vs exact are pinned in tests/test_extensions.py."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("_d")
    ).agg(F.hll_sketch_agg("user_id").alias("_sk"))
    return (
        daily.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("est_users"),
            F.count(F.lit(1)).alias("n_daily_sketches"),
        )
        .orderBy("event_type")
    )


@_declare(
    "q93_semantic_decontaminate",
    """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings
    ), ev AS (SELECT * FROM e WHERE vec_id < 50),
       tr AS (SELECT * FROM e WHERE vec_id >= 50)
    SELECT tr.vec_id t_id, ev.vec_id e_id,
           ROUND(list_inner_product(tr.v, ev.v)
                 / sqrt(list_inner_product(tr.v, tr.v)
                        * list_inner_product(ev.v, ev.v)), 4) + 0 cosine
    FROM tr, ev
    WHERE list_inner_product(tr.v, ev.v)
          / sqrt(list_inner_product(tr.v, tr.v)
                 * list_inner_product(ev.v, ev.v)) >= 0.4
    ORDER BY t_id, e_id
    """,
)
def q93(spark, sf_dir):
    """Semantic decontamination: train embeddings within cosine 0.4 of
    any eval embedding — the paraphrase-leakage catch that exact (q54)
    and fuzzy (q72) n-gram checks miss. Eval side broadcasts (it's a
    benchmark — small by construction); the scoring is a map-side pass
    over train with no shuffle on the big side."""
    # r11: scatter the single-row-group scan — the broadcast-cosine
    # pass is CPU-dense and otherwise runs as ONE task (finding 1)
    emb = load_table(spark, sf_dir, "embeddings", scatter=True)
    ev_side = emb.filter(F.col("vec_id") < 50)
    tr_side = emb.filter(F.col("vec_id") >= 50)
    return (
        dc.semantic_contaminated(tr_side, ev_side, threshold=0.4)
        .select(
            "t_id",
            "e_id",
            (F.round(F.col("cosine"), 4) + F.lit(0.0)).alias("cosine"),
        )
        .orderBy("t_id", "e_id")
    )


# --------------------------------------------------------------------------
# Q94 behavioral sequence mining (event-type trigrams per user)
# --------------------------------------------------------------------------
@_declare(
    "q94_event_sequences",
    """
    WITH s AS (
      SELECT user_id, event_type e1,
             LEAD(event_type, 1) OVER w e2,
             LEAD(event_type, 2) OVER w e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e1 || '>' || e2 || '>' || e3 AS seq,
           CAST(COUNT(*) AS BIGINT) n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) n_users
    FROM s WHERE e3 IS NOT NULL
    GROUP BY seq ORDER BY n DESC, seq LIMIT 20
    """,
)
def q94(spark, sf_dir):
    """Behavioral sequence mining: the 20 most common 3-event-type
    sequences across users. One window per user (ordered by event
    time with an id tiebreak for equal timestamps — deterministic
    across engines), two leads, a hash agg on the trigram string, and
    a TakeOrdered top-20. The per-user window shuffles once on
    user_id; sequence cardinality is |types|^3 — tiny — so the final
    agg is nearly map-side-only."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        s.groupBy(
            F.concat_ws(">", "e1", "e2", "e3").alias("seq")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("n"), F.asc("seq"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q95 REAL WAV decode + feature extraction (operators/media_codecs.py)
# --------------------------------------------------------------------------
@_declare(
    "q95_wav_audio_features",
    """
    WITH b AS (SELECT doc_id FROM documents WHERE doc_id < 200),
    s AS (SELECT b.doc_id, i.i,
                 TRUNC(0.5 * sin(2 * pi() * (100 + (b.doc_id % 40) * 10)
                                 * i.i / 8000) * 32767) / 32768.0 x
          FROM b, (SELECT unnest(range(0, 2000)) i) i),
    z AS (SELECT doc_id, i, x,
                 LAG(x) OVER (PARTITION BY doc_id ORDER BY i) px
          FROM s)
    SELECT doc_id media_id, CAST(8000 AS INT) sample_rate,
           CAST(250 AS BIGINT) duration_ms,
           ROUND(SQRT(AVG(x * x)), 4) + 0 rms,
           ROUND(AVG(CASE WHEN px IS NULL THEN NULL
                          WHEN (x < 0) <> (px < 0) THEN 1.0
                          ELSE 0.0 END), 4) + 0 zcr
    FROM z GROUP BY doc_id ORDER BY media_id
    """,
)
def q95(spark, sf_dir):
    """REAL audio decode in the pipeline: synthesize a deterministic
    PCM16 WAV per document (stdlib wave writer, tone derived from
    doc_id — the payload-construction stage a crawler's fetch would
    fill), then run the real RIFF parser + signal features
    (media_codecs.wav_features: duration, RMS, peak, zero-crossing
    rate). Oracle: the samples are int16 truncations of a closed-form
    sine, so DuckDB re-derives every sample arithmetically
    (TRUNC matches numpy's toward-zero astype) and the hash match
    proves the RIFF chunk walk + PCM decode + features — upgraded from
    the earlier rows-only check; the closed-form laws (sine RMS =
    A/sqrt 2, ZCR = 2f/sr) stay pinned in tests/test_media_codecs.py. Both stages are
    Arrow-batched mapInPandas with no shuffle."""
    from ..operators.multimodal import extract_wav_features

    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 200
    )

    def synth(batches):
        import io
        import math as _m
        import wave as _w

        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                sr = 8000
                freq = 100.0 + (int(did) % 40) * 10.0
                n = sr // 4  # 250 ms
                t = _np.arange(n) / sr
                x = (0.5 * _np.sin(2 * _m.pi * freq * t) * 32767).astype("<i2")
                buf = io.BytesIO()
                with _w.open(buf, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(2)
                    wf.setframerate(sr)
                    wf.writeframes(x.tobytes())
                payloads.append(buf.getvalue())
            yield _pd.DataFrame(
                {"media_id": pdf["doc_id"], "content": payloads}
            )

    media = docs.mapInPandas(synth, "media_id long, content binary")
    feats = extract_wav_features(media)
    return feats.select(
        "media_id",
        "sample_rate",
        "duration_ms",
        (F.round("rms", 4) + F.lit(0.0)).alias("rms"),
        (F.round("zcr", 4) + F.lit(0.0)).alias("zcr"),
    ).orderBy("media_id")


# --------------------------------------------------------------------------
# Q96 TPC-H Q4 shape: EXISTS semi-join
# --------------------------------------------------------------------------
@_declare(
    "q96_late_shipment_priority",
    """
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) n
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """,
)
def q96(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS decorrelated to a LEFT SEMI join — the
    fact side never duplicates order rows however many lineitems
    match, and only the orderkey/shipdate columns of lineitem are
    read. Date window pushed to the orders scan; the semi-join carries
    the non-equi lateness predicate alongside the key equality."""
    od = load_table(
        spark, sf_dir, "orders",
        ts_filters=[
            ("o_orderdate", ">=", "1996-01-01 00:00:00"),
            ("o_orderdate", "<", "1996-07-01 00:00:00"),
        ],
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = od.join(
        li,
        (od["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Q97 NOT-EXISTS anti-join, Q98 percent-of-total window
# --------------------------------------------------------------------------
@_declare(
    "q97_dormant_customers",
    """
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) n_dormant,
           ROUND(AVG(c.c_acctbal), 4) + 0 avg_bal
    FROM customer c
    WHERE c.c_acctbal > 0.0
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      )
    GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """,
)
def q97(spark, sf_dir):
    """TPC-H Q22 shape: NOT EXISTS decorrelated to a LEFT ANTI join —
    positive-balance customers with no 1998+ orders. The anti side is
    pre-filtered AND pre-projected to just the custkey before the
    join, so the probe build is minimal; the date filter is pushed to
    the orders scan."""
    cu = load_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") > 0.0
    )
    recent = load_table(
        spark, sf_dir, "orders",
        ts_filters=[("o_orderdate", ">=", "1998-01-01 00:00:00")],
    ).select("o_custkey")
    return (
        cu.join(recent, cu["c_custkey"] == recent["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_dormant"),
            (F.round(F.avg("c_acctbal"), 4) + F.lit(0.0)).alias("avg_bal"),
        )
        .orderBy("c_mktsegment")
    )


@_declare(
    "q98_revenue_share",
    """
    WITH r AS (
      SELECT n.n_name, SUM(l.l_extendedprice * (1 - l.l_discount)) rev
      FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
      GROUP BY n.n_name
    )
    SELECT n_name,
           ROUND(rev, 4) + 0 revenue,
           ROUND(rev / SUM(rev) OVER (), 4) + 0 rev_share,
           CAST(RANK() OVER (ORDER BY rev DESC) AS BIGINT) rnk
    FROM r ORDER BY rnk, n_name
    """,
)
def q98(spark, sf_dir):
    """Percent-of-total share analysis: aggregate once, then an empty-
    frame window computes each nation's share of global revenue and its
    rank. The window runs over the AGGREGATED relation (|nations|
    rows), so the single-partition window that would be a scale hazard
    on raw data is a constant-size epilogue here — the right place for
    a global window."""
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    na = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    r = (
        li.join(F.broadcast(su), li["l_suppkey"] == su["s_suppkey"])
        .join(F.broadcast(na), su["s_nationkey"] == na["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("rev")
        )
    )
    w_all = Window.partitionBy()
    w_rank = Window.orderBy(F.desc("rev"))
    return (
        r.select(
            "n_name",
            (F.round("rev", 4) + F.lit(0.0)).alias("revenue"),
            (
                F.round(F.col("rev") / F.sum("rev").over(w_all), 4)
                + F.lit(0.0)
            ).alias("rev_share"),
            F.rank().over(w_rank).cast("long").alias("rnk"),
        )
        .orderBy("rnk", "n_name")
    )


# --------------------------------------------------------------------------
# Q99 language-ID confusion matrix (labeled vs predicted)
# --------------------------------------------------------------------------
@_declare(
    "q99_lang_confusion",
    rf"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) tok
      FROM documents),
    m(lang, marker) AS (VALUES {_lang_marker_values()}),
    hits AS (SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) hits
             FROM toks JOIN m ON tok = marker GROUP BY 1, 2),
    best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY hits DESC, lang ASC) rk FROM hits),
    pred AS (SELECT d.doc_id, d.lang true_lang,
                    COALESCE(b.lang, 'und') pred_lang
             FROM documents d
             LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rk = 1)
    SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) n
    FROM pred GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q99(spark, sf_dir):
    """Classifier-quality summary for the marker-based language ID: the
    (labeled, predicted) confusion matrix. Composes q33's operator with
    one extra hash agg on the (tiny) language pair key — the evaluation
    query a user runs before trusting pred_lang as a filter column."""
    docs = load_table(spark, sf_dir, "documents")
    pred = tx.lang_id(docs).select("doc_id", "pred_lang")
    return (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("true_lang", "pred_lang")
    )


# --------------------------------------------------------------------------
# Q100 SQL-text surface: gap sessionization in pure SQL over the views
# --------------------------------------------------------------------------
@_declare(
    "q100_sql_sessions",
    """
    WITH marks AS (
      SELECT user_id,
             CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER w > 1800
                  THEN 1 ELSE 0 END new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(1 + SUM(new_s) AS BIGINT) n_sessions,
           CAST(COUNT(*) AS BIGINT) n_events
    FROM marks GROUP BY user_id ORDER BY user_id
    """,
)
def q100(spark, sf_dir):
    """The SQL-text API surface: the engine registers its tables as
    views (sources.testdata.register_views) and answers raw
    ``spark.sql`` — here 30-minute-gap sessionization written entirely
    in SQL (lag + mark + count), the declarative twin of the q43
    operator. Registering a view is catalog metadata only (no job);
    the plan is one per-user window + one hash agg, same as the
    DataFrame form — Catalyst sees identical logical plans either
    way."""
    from ..sources.testdata import register_views

    register_views(spark, sf_dir, ("events",))
    return spark.sql(
        """
        WITH marks AS (
          SELECT user_id,
                 CASE WHEN unix_timestamp(ts) - LAG(unix_timestamp(ts))
                           OVER w > 1800
                      THEN 1 ELSE 0 END new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id,
               CAST(1 + SUM(new_s) AS BIGINT) n_sessions,
               CAST(COUNT(*) AS BIGINT) n_events
        FROM marks GROUP BY user_id ORDER BY user_id
        """
    )


# --------------------------------------------------------------------------
# Q101 last-touch attribution (as-of join + tolerance composition)
# --------------------------------------------------------------------------
@_declare(
    "q101_last_touch_attribution",
    """
    WITH l AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), r AS (
      SELECT user_id, ts FROM events WHERE event_type = 'view'
      GROUP BY user_id, ts
    ), j AS (
      SELECT l.event_id, l.user_id, l.ts, r.ts rts
      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    )
    SELECT CAST(COUNT(*) AS BIGINT) n_clicks,
           CAST(SUM(CASE WHEN rts IS NOT NULL
                          AND epoch(ts) - epoch(rts) <= 1800
                         THEN 1 ELSE 0 END) AS BIGINT) n_attributed,
           ROUND(SUM(CASE WHEN rts IS NOT NULL
                           AND epoch(ts) - epoch(rts) <= 1800
                          THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) + 0 rate
    FROM j
    """,
)
def q101(spark, sf_dir):
    """Last-touch attribution: each click attributes to the user's most
    recent view within 30 minutes — the as-of join operator (q56's
    union-trick single-shuffle plan) composed with its tolerance
    option, collapsed to the attribution-rate summary a marketing
    pipeline reports. Tolerance is applied inside the operator (match
    nulled when older than 30 min), so the aggregate just counts
    non-null matches."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id", "ts")
        .distinct()
        .withColumn("one", F.lit(1))
    )
    j = tso.asof_join(
        clicks, views, key="user_id",
        value_cols=("one",), tolerance_seconds=1800,
    )
    attributed = F.sum(
        F.when(F.col("ts_asof").isNotNull(), 1).otherwise(0)
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_clicks"),
        attributed.cast("long").alias("n_attributed"),
        (
            F.round(attributed / F.count(F.lit(1)), 4) + F.lit(0.0)
        ).alias("rate"),
    )


# --------------------------------------------------------------------------
# Q102-Q104: more TPC-H classics adapted to the slim star schema
# (no l_shipmode/l_commitdate/p_container/partsupp in the testdata)
# --------------------------------------------------------------------------
@_declare(
    "q102_promo_revenue_share",
    """
    SELECT date_trunc('month', l.l_shipdate) mon,
           ROUND(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                                  THEN l.l_extendedprice * (1 - l.l_discount)
                                  ELSE 0 END)
                 / SUM(l.l_extendedprice * (1 - l.l_discount)), 4) + 0
             promo_share,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) + 0 revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1 ORDER BY 1
    """,
)
def q102(spark, sf_dir):
    """TPC-H Q14 shape: promo revenue share per month. The date range
    is pushed to the lineitem scan (raw-ns row-group filters); part is
    joined on partkey and only (p_partkey, p_type) is read — column
    pruning keeps the build side narrow. part grows with SF, so this
    is a shuffle join on partkey at 100 TB (AQE may still broadcast
    it when the pruned side fits); the conditional-aggregate form
    computes share in ONE pass instead of two filtered scans."""
    li = load_table(
        spark, sf_dir, "lineitem",
        ts_filters=[
            ("l_shipdate", ">=", "1997-01-01 00:00:00"),
            ("l_shipdate", "<", "1998-01-01 00:00:00"),
        ],
    ).select("l_partkey", "l_shipdate", "l_extendedprice", "l_discount")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(pt, li["l_partkey"] == pt["p_partkey"])
        .groupBy(F.date_trunc("month", "l_shipdate").alias("mon"))
        .agg(
            (
                F.round(100.0 * F.sum(promo) / F.sum(rev), 4) + F.lit(0.0)
            ).alias("promo_share"),
            (F.round(F.sum(rev), 4) + F.lit(0.0)).alias("revenue"),
        )
        .orderBy("mon")
    )


@_declare(
    "q103_disjunctive_part_filter",
    """
    SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) + 0 revenue,
           CAST(COUNT(*) AS BIGINT) n
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 50
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q103(spark, sf_dir):
    """TPC-H Q19 shape: an OR-of-ANDs predicate spanning both join
    sides. Catalyst factors the single-side conjuncts out of the
    disjunction: part is pre-filtered to the three brands
    (p_brand IN ... reaches the part scan), lineitem to the quantity
    envelope [1,30], and only the residual mixed predicate runs after
    the join. At 100 TB that pre-filter is the difference between
    joining 3/25 of part vs all of it. The brand filter makes the
    build side tiny and broadcast-able at any SF."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    pt = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    pred = (
        ((b == "Brand#1") & s.between(1, 15) & q.between(1, 11))
        | ((b == "Brand#2") & s.between(1, 25) & q.between(10, 20))
        | ((b == "Brand#3") & s.between(1, 50) & q.between(20, 30))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"])
        .filter(pred)
        .agg(
            (F.round(F.sum(rev), 4) + F.lit(0.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@_declare(
    "q104_returned_items",
    """
    SELECT c.c_custkey, n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) + 0 revenue
    FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY 1, 2 ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q104(spark, sf_dir):
    """TPC-H Q10 shape: top-20 customers by returned-item revenue in
    one quarter. Both fact filters are pushed (quarter bounds on the
    orders scan, returnflag on the lineitem scan), the facts join on
    orderkey, then customer on custkey; nation (25 rows, size-constant
    at any SF) is broadcast last. The final top-20 is
    TakeOrderedAndProject — no global sort, each partition keeps 20
    candidates and the driver merges."""
    od = load_table(
        spark, sf_dir, "orders",
        ts_filters=[
            ("o_orderdate", ">=", "1996-10-01 00:00:00"),
            ("o_orderdate", "<", "1997-01-01 00:00:00"),
        ],
    ).select("o_orderkey", "o_custkey")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    cu = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    na = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cu, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(na), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "n_name")
        .agg((F.round(F.sum(rev), 4) + F.lit(0.0)).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@_declare(
    "q105_volume_shipping",
    """
    WITH sn AS (SELECT s_suppkey, n_name supp_nation
                FROM supplier JOIN nation ON s_nationkey = n_nationkey
                WHERE n_name IN ('NATION_1','NATION_2')),
         cn AS (SELECT c_custkey, n_name cust_nation
                FROM customer JOIN nation ON c_nationkey = n_nationkey
                WHERE n_name IN ('NATION_1','NATION_2'))
    SELECT sn.supp_nation, cn.cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) l_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) + 0 volume
    FROM lineitem l
      JOIN sn ON l.l_suppkey = sn.s_suppkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN cn ON o.o_custkey = cn.c_custkey
    WHERE sn.supp_nation <> cn.cust_nation
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def q105(spark, sf_dir):
    """TPC-H Q7 shape: cross-nation trade volume by year between two
    nations. Each fact row needs BOTH its supplier's and its
    customer's nation; the nation filter shrinks supplier/customer to
    2/25 of their rows before they touch the facts, and the
    supp<>cust inequality runs as a cheap residual after the joins.
    supplier|><|nation is broadcast into lineitem (nation-filtered
    supplier is small); orders|><|customer shuffles on their natural
    keys; the 2-year date band is pushed to the lineitem scan."""
    na = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    sn = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cn = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(na), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(
        spark, sf_dir, "lineitem",
        ts_filters=[
            ("l_shipdate", ">=", "1996-01-01 00:00:00"),
            ("l_shipdate", "<", "1998-01-01 00:00:00"),
        ],
    ).select(
        "l_orderkey", "l_suppkey", "l_shipdate",
        "l_extendedprice", "l_discount",
    )
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cn, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg((F.round(F.sum(rev), 4) + F.lit(0.0)).alias("volume"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@_declare(
    "q106_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 4)
               total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, rev.total_revenue + 0 total_revenue
    FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
    WHERE rev.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    ORDER BY s.s_suppkey
    """,
)
def q106(spark, sf_dir):
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly
    revenue. The classic correlated scalar subquery (revenue =
    MAX(revenue)) is expressed as an empty-frame window MAX over the
    aggregated per-supplier relation — one extra exchange over |supp|
    rows instead of a second scan of lineitem. The quarter bound is
    pushed to the fact scan; supplier joins after aggregation, so the
    join input is |suppliers with sales|, not |lineitem|."""
    li = load_table(
        spark, sf_dir, "lineitem",
        ts_filters=[
            ("l_shipdate", ">=", "1997-01-01 00:00:00"),
            ("l_shipdate", "<", "1997-04-01 00:00:00"),
        ],
    )
    rev = li.groupBy("l_suppkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("total_revenue")
    )
    w = Window.partitionBy()
    top = rev.withColumn(
        "_mx", F.max("total_revenue").over(w)
    ).filter(F.col("total_revenue") == F.col("_mx"))
    su = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        top.join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name",
            (F.col("total_revenue") + F.lit(0.0)).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@_declare(
    "q107_sole_late_supplier",
    """
    WITH lines AS (
      SELECT l.l_suppkey, l.l_orderkey,
             CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                  THEN 1 ELSE 0 END late
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'),
    per_order AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) n_supp,
             COUNT(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) n_late,
             MAX(CASE WHEN late = 1 THEN l_suppkey END) late_supp
      FROM lines GROUP BY l_orderkey)
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) numwait
    FROM per_order p JOIN supplier s ON p.late_supp = s.s_suppkey
    WHERE p.n_supp > 1 AND p.n_late = 1
    GROUP BY s.s_name ORDER BY numwait DESC, s.s_name LIMIT 10
    """,
)
def q107(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting), adapted to
    the slim schema (lateness = shipped >60 days after order date).
    The classic EXISTS(other supplier) AND NOT EXISTS(other LATE
    supplier) pair decorrelates into ONE per-order aggregate:
    n_supp > 1 AND n_late = 1 — Spark-first, this replaces two extra
    self-joins of lineitem with a single groupBy(orderkey), which is
    the shuffle the order join already paid for. MAX(late supplier)
    is well-defined because the filter keeps exactly-one-late orders.

    The per-order counts are distinct-supplier counts, spelled as a
    two-level aggregate (pair-level max(late) under one orderkey-keyed
    shuffle, then order-level count/sum/max) rather than two
    countDistinct's in one agg: the multi-distinct rewrite would Expand
    the joined rows 3x into its first shuffle, while the pair level
    needs the raw rows once — same rows out (l_suppkey is non-null, so
    count(pairs) == countDistinct(suppkey))."""
    od = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late_line = (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    ).cast("int")
    pair = (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("l_orderkey", "l_suppkey", late_line.alias("late_line"))
        .repartition(F.col("l_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("late_line").alias("is_late"))
    )
    per_order = (
        pair.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum("is_late").alias("n_late"),
            F.max(
                F.when(F.col("is_late") == 1, F.col("l_suppkey"))
            ).alias("late_supp"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    su = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_order.join(
            F.broadcast(su), F.col("late_supp") == F.col("s_suppkey")
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Q108/Q109: k-means clustering + SemDeDup semantic dedup (clustering.py)
# --------------------------------------------------------------------------
_KM_ASSIGN_CTES = """
    v AS (SELECT vec_id, embedding e FROM embeddings),
    c0 AS (SELECT CAST(vec_id AS BIGINT) cid,
                  list_transform(e, x -> CAST(x AS DOUBLE)) c
           FROM v WHERE vec_id < 4),
    d1 AS (SELECT v.vec_id, c0.cid,
                  list_sum(list_transform(range(1, 65),
                    i -> (CAST(v.e[i] AS DOUBLE) - c0.c[i])^2)) d2
           FROM v CROSS JOIN c0),
    a1 AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY d2, cid) rn
             FROM d1) WHERE rn = 1),
    c1 AS (SELECT cid, list(m ORDER BY i) c FROM (
             SELECT a.cid, i.i,
                    round(avg(CAST(vv.e[i.i] AS DOUBLE)), 6) m
             FROM a1 a JOIN v vv USING (vec_id)
             CROSS JOIN (SELECT unnest(range(1, 65)) i) i
             GROUP BY a.cid, i.i) GROUP BY cid),
    d2_ AS (SELECT v.vec_id, c1.cid,
                   list_sum(list_transform(range(1, 65),
                     i -> (CAST(v.e[i] AS DOUBLE) - c1.c[i])^2)) d2
            FROM v CROSS JOIN c1),
    a2 AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY d2, cid) rn
             FROM d2_) WHERE rn = 1)
"""


@_declare(
    "q108_kmeans_clusters",
    f"""
    WITH {_KM_ASSIGN_CTES},
    c2 AS (SELECT cid, list(m ORDER BY i) c FROM (
             SELECT a.cid, i.i,
                    round(avg(CAST(vv.e[i.i] AS DOUBLE)), 6) m
             FROM a2 a JOIN v vv USING (vec_id)
             CROSS JOIN (SELECT unnest(range(1, 65)) i) i
             GROUP BY a.cid, i.i) GROUP BY cid),
    df AS (SELECT v.vec_id, c2.cid,
                  list_sum(list_transform(range(1, 65),
                    i -> (CAST(v.e[i] AS DOUBLE) - c2.c[i])^2)) d2
           FROM v CROSS JOIN c2),
    af AS (SELECT vec_id, cid, d2 FROM (
             SELECT vec_id, cid, d2,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY d2, cid) rn
             FROM df) WHERE rn = 1)
    SELECT cid, CAST(COUNT(*) AS BIGINT) n, ROUND(AVG(d2), 4) + 0 mean_d2
    FROM af GROUP BY cid ORDER BY cid
    """,
)
def q108(spark, sf_dir):
    """K-means (k=4, 2 Lloyd iterations, deterministic lowest-id init)
    over the embeddings table, reported as cluster sizes + mean squared
    distance to the final centroid. Fully declarative (operators/
    clustering.py): centroids stay a DataFrame, assignment is a
    broadcast cross-join of k rows + per-vector argmin window, updates
    are one hash-agg each — building this plan launches zero jobs and
    every iteration is one broadcast + one exchange at any SF. Oracle:
    the same two iterations unrolled in DuckDB; 6-decimal centroid
    rounding anchors the two engines' float64 paths bit-for-bit."""
    from ..operators import clustering as cl

    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    out = cl.kmeans_assign(vecs, k=4, iters=2, dim=64)
    return (
        out.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.round(F.avg("d2"), 4) + F.lit(0.0)).alias("mean_d2"),
        )
        .orderBy("cid")
    )


@_declare(
    "q109_semdedup",
    f"""
    WITH {_KM_ASSIGN_CTES},
    m AS (SELECT a2.vec_id, a2.cid, v.e,
                 sqrt(list_sum(list_transform(v.e,
                   x -> CAST(x AS DOUBLE)^2))) nrm
          FROM a2 JOIN v USING (vec_id)),
    dup AS (SELECT DISTINCT b.vec_id FROM m a JOIN m b
            ON a.cid = b.cid AND a.vec_id < b.vec_id
            WHERE list_sum(list_transform(range(1, 65),
                    i -> CAST(a.e[i] AS DOUBLE) * CAST(b.e[i] AS DOUBLE)))
                  / (a.nrm * b.nrm) >= 0.4)
    SELECT m.cid, CAST(COUNT(*) AS BIGINT) n,
           CAST(SUM(CASE WHEN dup.vec_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) n_dup
    FROM m LEFT JOIN dup ON m.vec_id = dup.vec_id
    GROUP BY m.cid ORDER BY m.cid
    """,
)
def q109(spark, sf_dir):
    """SemDeDup shape (Abbas et al. 2023): cluster first (k-means,
    1 Lloyd iteration), then find semantic duplicates ONLY within each
    cluster — candidate pairs are an equi-join on cid, O(Σ cluster²)
    instead of corpus². Keep-first rule: a vector is a duplicate iff a
    lower-id twin in its cluster has cosine ≥ 0.4 (the threshold is
    data-calibrated: this table has no pairs above 0.7). Reported per
    cluster as (size, n_dup) — non-vacuous at every test sf.

    k=4 here is a TEST-SF parameter chosen so the unrolled DuckDB
    oracle stays readable; production sizing is
    ``clustering.suggested_k`` (k ∝ √N, or N/target_cluster_size —
    the contract that keeps the pair join sub-quadratic, pinned by
    tests/test_clustering.py's growth-law test between sf0.01 and
    sf0.1)."""
    from ..operators import clustering as cl

    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    assigned = cl.kmeans_assign(vecs, k=4, iters=1, dim=64)
    marked = cl.semdedup(assigned, threshold=0.4)
    return (
        marked.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("is_dup").cast("long")).alias("n_dup"),
        )
        .orderBy("cid")
    )


# --------------------------------------------------------------------------
# Q110/Q111: corpus statistics — Zipf fit and PMI collocations
# --------------------------------------------------------------------------
@_declare(
    "q110_zipf_slope",
    r"""
    WITH tok AS (SELECT unnest(regexp_extract_all(text, '\S+')) w
                 FROM documents),
    f AS (SELECT w, CAST(count(*) AS BIGINT) n FROM tok GROUP BY w),
    r AS (SELECT w, n, row_number() OVER (ORDER BY n DESC, w) rk FROM f)
    SELECT ROUND(regr_slope(ln(n), ln(rk)), 4) + 0 slope,
           ROUND(regr_intercept(ln(n), ln(rk)), 4) + 0 icpt,
           CAST(COUNT(*) AS BIGINT) n_ranks
    FROM r WHERE rk <= 100
    """,
)
def q110(spark, sf_dir):
    """Zipf's-law fit over the corpus vocabulary: OLS slope/intercept
    of ln(freq) vs ln(rank) for the top-100 ranks — the standard
    corpus-health diagnostic (natural text ≈ −1). One explode + one
    hash-agg over tokens; the rank window runs over |vocab| rows (the
    agg output), never over token instances, so the sort input is
    vocabulary-sized at any corpus scale. regr_slope/regr_intercept
    are built-in JVM aggregates on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tx.tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), "w")
    ranked = freq.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 100
    )
    return ranked.agg(
        (
            F.round(F.regr_slope(F.log("n"), F.log("rk")), 4) + F.lit(0.0)
        ).alias("slope"),
        (
            F.round(F.regr_intercept(F.log("n"), F.log("rk")), 4)
            + F.lit(0.0)
        ).alias("icpt"),
        F.count(F.lit(1)).alias("n_ranks"),
    )


@_declare(
    "q111_pmi_collocations",
    r"""
    WITH d AS (SELECT regexp_extract_all(text, '\S+') tk FROM documents),
    tok AS (SELECT unnest(tk) w FROM d),
    uni AS (SELECT w, count(*) n FROM tok GROUP BY w),
    nt AS (SELECT count(*) n FROM tok),
    pairs AS (SELECT u.pr[1] a, u.pr[2] b FROM (
      SELECT unnest(list_transform(range(1, greatest(len(tk), 1)),
         i -> [tk[i], tk[i+1]])) pr FROM d) u
      WHERE u.pr[2] IS NOT NULL),
    bg AS (SELECT a, b, count(*) n_ab FROM pairs GROUP BY a, b)
    SELECT bg.a, bg.b, CAST(bg.n_ab AS BIGINT) n_ab,
           ROUND(ln(bg.n_ab * nt.n * 1.0 / (ua.n * ub.n)), 4) pmi
    FROM bg JOIN uni ua ON bg.a = ua.w JOIN uni ub ON bg.b = ub.w
    CROSS JOIN nt
    WHERE bg.n_ab >= 10
    ORDER BY pmi DESC, a, b LIMIT 20
    """,
)
def q111(spark, sf_dir):
    """Top-20 bigram collocations by pointwise mutual information:
    pmi = ln(n_ab·N / (n_a·n_b)). Bigram extraction is the zip-of-
    shifted-slices idiom (tokens referenced once per row, not once per
    gram — see functions/text.shingles_from_tokens); unigram counts
    broadcast into the bigram relation (|vocab| rows), the corpus
    token total N is a 1-row broadcast cross-join computed IN-PLAN
    (no driver-side count — the q60 lesson), and the final top-20 is
    TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    tk = tx.tokens(F.col("text"))
    m = F.greatest(F.size(tk) - 1, F.lit(0))
    zipped = F.arrays_zip(F.slice(tk, 1, m), F.slice(tk, 2, m))
    pairs = (
        docs.select(F.explode(zipped).alias("pr"))
        .select(F.col("pr.0").alias("a"), F.col("pr.1").alias("b"))
    )
    toks = docs.select(F.explode(tk).alias("w"))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    nt = toks.agg(F.count(F.lit(1)).alias("n_tot"))
    bg = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_ab"))
    ua = uni.select(F.col("w").alias("_wa"), F.col("n").alias("n_a"))
    ub = uni.select(F.col("w").alias("_wb"), F.col("n").alias("n_b"))
    return (
        bg.filter(F.col("n_ab") >= 10)
        .join(F.broadcast(ua), F.col("a") == F.col("_wa"))
        .join(F.broadcast(ub), F.col("b") == F.col("_wb"))
        .crossJoin(F.broadcast(nt))
        .select(
            "a", "b", "n_ab",
            F.round(
                F.log(
                    F.col("n_ab") * F.col("n_tot") * 1.0
                    / (F.col("n_a") * F.col("n_b"))
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "a", "b")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q112/Q113: two-level rollup merge law + seasonal (hour-of-day) anomalies
# --------------------------------------------------------------------------
@_declare(
    "q112_rollup_merge",
    """
    SELECT user_id, event_type, date_trunc('day', ts) d,
           ROUND(SUM(value), 4) s,
           ROUND(SUM(value) / COUNT(value), 4) m,
           ROUND(MIN(value), 4) l, ROUND(MAX(value), 4) u,
           CAST(COUNT(value) AS BIGINT) c,
           ROUND(SQRT((SUM(value*value) - SUM(value)*SUM(value)
                       / COUNT(value)) / COUNT(value)), 4) d_std
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def q112(spark, sf_dir):
    """The downsample merge law AS a query: daily aggregates computed
    by re-aggregating HOURLY partials (sum/count/min/max/sum_squares),
    never re-reading raw points — exactly how points_agg serves a
    coarser granularity from a finer one at 100 TB (SURVEY §2.3 A14:
    the init/update/merge/finish contract). The oracle aggregates raw
    events directly; hash-equality pins that merged partials are
    indistinguishable from a single-pass aggregate: sums re-associate,
    min/max fold, mean = Σs/Σc, std_dev from merged (s, q, c)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    v = F.col("value")
    hourly = ev.groupBy(
        "user_id", "event_type",
        F.date_trunc("hour", "ts").alias("h"),
    ).agg(
        F.sum(v).alias("hs"),
        F.count(v).alias("hc"),
        F.min(v).alias("hl"),
        F.max(v).alias("hu"),
        F.sum(v * v).alias("hq"),
    )
    s, c, q = F.sum("hs"), F.sum("hc"), F.sum("hq")
    return (
        hourly.groupBy(
            "user_id", "event_type",
            F.date_trunc("day", "h").alias("d"),
        )
        .agg(
            F.round(s, 4).alias("s"),
            F.round(s / c, 4).alias("m"),
            F.round(F.min("hl"), 4).alias("l"),
            F.round(F.max("hu"), 4).alias("u"),
            c.cast("long").alias("c"),
            F.round(F.sqrt((q - s * s / c) / c), 4).alias("d_std"),
        )
        .orderBy("user_id", "event_type", "d")
    )


@_declare(
    "q113_seasonal_anomalies",
    """
    WITH prof AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) hod,
             SUM(value) / COUNT(value) m,
             SQRT((SUM(value*value) - SUM(value)*SUM(value)/COUNT(value))
                  / COUNT(value)) sd
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
    SELECT e.event_type, CAST(COUNT(*) AS BIGINT) n_events,
           CAST(SUM(CASE WHEN ABS(e.value - p.m) > 2 * p.sd
                         THEN 1 ELSE 0 END) AS BIGINT) n_anomalies
    FROM events e JOIN prof p
      ON e.event_type = p.event_type AND hour(e.ts) = p.hod
    WHERE e.value IS NOT NULL
    GROUP BY 1 ORDER BY 1
    """,
)
def q113(spark, sf_dir):
    """Seasonal anomaly detection: build an hour-of-day baseline
    profile (mean + population σ per event_type × hour), broadcast it
    back onto the stream, and count points deviating more than 2σ from
    their hour's mean. The profile is |event_types|×24 rows at ANY
    corpus size — the join side that grows is never shuffled against
    itself, and the raw scan happens twice only in the logical plan
    (the profile agg is map-side partial). σ uses the explicit
    (s, q, c) formula so both engines agree bit-for-bit."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    v = F.col("value")
    s, c, q = F.sum(v), F.count(v), F.sum(v * v)
    prof = ev.groupBy(
        F.col("event_type").alias("_et"),
        F.hour("ts").cast("long").alias("hod"),
    ).agg(
        (s / c).alias("m"),
        F.sqrt((q - s * s / c) / c).alias("sd"),
    )
    return (
        ev.join(
            F.broadcast(prof),
            (F.col("event_type") == F.col("_et"))
            & (F.hour("ts").cast("long") == F.col("hod")),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("m"))
                    > 2 * F.col("sd"),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_anomalies"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Q114/Q115: time-weighted average + merged activity intervals
# --------------------------------------------------------------------------
@_declare(
    "q114_time_weighted_avg",
    """
    WITH o AS (
      SELECT user_id, event_type, date_trunc('day', ts) d, value,
             CAST(floor(epoch(ts)) AS BIGINT) et,
             LEAD(CAST(floor(epoch(ts)) AS BIGINT))
               OVER (PARTITION BY user_id, event_type,
                                  date_trunc('day', ts)
                     ORDER BY ts, event_id) nxt
      FROM events WHERE value IS NOT NULL)
    SELECT user_id, event_type, d,
           ROUND(CASE WHEN MAX(et) > MIN(et)
                 THEN SUM(value * COALESCE(nxt - et, 0))
                      / (MAX(et) - MIN(et))
                 ELSE MIN(value) END, 4) twa,
           CAST(COUNT(*) AS BIGINT) c
    FROM o GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def q114(spark, sf_dir):
    """Time-weighted average per stream-day (LOCF weighting): each
    point's value is held until the next observation, so
    twa = Σ vᵢ·(tᵢ₊₁−tᵢ) / (t_last − t_first); a lone point degrades
    to its own value. The TSDB operator the reference lacks but every
    irregular-sampling pipeline needs (a value that was 'high for 10 s'
    must not outweigh one 'low for an hour'). One lead window per
    stream-day partition + one agg — both shuffles share the stream
    grouping key, and integer-second EPOCHS keeps the arithmetic
    engine-portable."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    day = F.date_trunc("day", "ts")
    et = F.unix_timestamp("ts")
    w = Window.partitionBy("user_id", "event_type", day).orderBy(
        "ts", "event_id"
    )
    o = ev.select(
        "user_id", "event_type", day.alias("d"), "value",
        et.alias("et"), F.lead(et).over(w).alias("nxt"),
    )
    twa = (
        F.when(
            F.max("et") > F.min("et"),
            F.sum(
                F.col("value")
                * F.coalesce(F.col("nxt") - F.col("et"), F.lit(0))
            )
            / (F.max("et") - F.min("et")),
        ).otherwise(F.min("value"))
    )
    return (
        o.groupBy("user_id", "event_type", "d")
        .agg(
            F.round(twa, 4).alias("twa"),
            F.count(F.lit(1)).alias("c"),
        )
        .orderBy("user_id", "event_type", "d")
    )


@_declare(
    "q115_activity_intervals",
    """
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                       - LAG(CAST(floor(epoch(ts)) AS BIGINT))
                         OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) > 600
                  THEN 1 ELSE 0 END brk
      FROM events),
    g AS (SELECT user_id, ts,
                 SUM(brk) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) grp
          FROM o),
    iv AS (SELECT user_id, grp,
                  CAST(floor(epoch(max(ts))) AS BIGINT)
                  - CAST(floor(epoch(min(ts))) AS BIGINT) span
           FROM g GROUP BY 1, 2)
    SELECT user_id, CAST(COUNT(*) AS BIGINT) n_intervals,
           CAST(MAX(span) AS BIGINT) max_span,
           CAST(SUM(span) AS BIGINT) covered
    FROM iv GROUP BY 1 ORDER BY 1
    """,
)
def q115(spark, sf_dir):
    """Gaps-and-islands interval merging: consecutive points ≤600 s
    apart fuse into one activity interval; report per stream the
    interval count, the longest span, and total covered seconds — the
    'when was this sensor actually reporting' primitive behind SLA and
    coverage dashboards (complements q73's gap listing by materializing
    the islands themselves). Break flags, the running-sum island id,
    and the island agg all partition on the SAME stream key, so the
    whole query is one shuffle + two window passes + one agg."""
    ev = load_table(spark, sf_dir, "events")
    et = F.unix_timestamp("ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id", "ts",
        F.when(et - F.lag(et).over(w) > 600, 1).otherwise(0).alias("brk"),
        "event_id",
    )
    g = o.select(
        "user_id", "ts",
        F.sum("brk")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("grp"),
    )
    iv = g.groupBy("user_id", "grp").agg(
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
        .alias("span")
    )
    return (
        iv.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.max("span").cast("long").alias("max_span"),
            F.sum("span").cast("long").alias("covered"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Q116: REAL image decode verified by an arithmetic oracle
# --------------------------------------------------------------------------
@_declare(
    "q116_image_channel_stats",
    """
    WITH px AS (
      SELECT d.doc_id,
             ((d.doc_id * 7 + r.r * 3 + c.c * 5) % 256) pr,
             ((d.doc_id * 7 + r.r * 3 + c.c * 5 + 11) % 256) pg,
             ((d.doc_id * 7 + r.r * 3 + c.c * 5 + 22) % 256) pb
      FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d
      CROSS JOIN (SELECT unnest(range(0, 16)) r) r
      CROSS JOIN (SELECT unnest(range(0, 32)) c) c),
    lm AS (SELECT doc_id, pr, pg, pb,
                  0.299 * pr + 0.587 * pg + 0.114 * pb luma
           FROM px)
    SELECT doc_id media_id,
           CAST(32 AS INT) width, CAST(16 AS INT) height,
           ROUND(AVG(pr * 1.0), 4) mean_r,
           ROUND(AVG(pg * 1.0), 4) mean_g,
           ROUND(AVG(pb * 1.0), 4) mean_b,
           ROUND(AVG(luma), 4) luma_mean,
           ROUND(SQRT(AVG(luma * luma) - AVG(luma) * AVG(luma)), 4)
             luma_std
    FROM lm GROUP BY doc_id ORDER BY doc_id
    """,
)
def q116(spark, sf_dir):
    """REAL image decode, arithmetically verified: each document gets
    a deterministic 32×16 P6 PPM whose pixel (r,c) channel k equals
    (doc_id·7 + r·3 + c·5 + k·11) mod 256; the Spark side ENCODES the
    payload, runs the real netpbm parser + channel/luma features
    (media_codecs.ppm_features over Arrow-batched mapInPandas), while
    the DuckDB oracle re-derives the same statistics from the closed
    form — so a hash match proves the whole bytes→parse→feature path,
    not just the plumbing. Shuffle-free: synth and decode are
    map-only stages."""
    from ..operators.multimodal import extract_ppm_features

    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 200
    )

    def synth(batches):
        import numpy as _np
        import pandas as _pd

        from django_datastream_spark.operators.media_codecs import (
            encode_ppm,
        )

        h, w = 16, 32
        r = _np.arange(h).reshape(h, 1, 1)
        c = _np.arange(w).reshape(1, w, 1)
        k = _np.arange(3).reshape(1, 1, 3)
        base = r * 3 + c * 5 + k * 11
        for pdf in batches:
            payloads = [
                encode_ppm((int(did) * 7 + base) % 256)
                for did in pdf["doc_id"]
            ]
            yield _pd.DataFrame(
                {"media_id": pdf["doc_id"], "content": payloads}
            )

    media = docs.mapInPandas(synth, "media_id long, content binary")
    feats = extract_ppm_features(media)
    return feats.select(
        "media_id", "width", "height",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
        F.round("luma_mean", 4).alias("luma_mean"),
        F.round("luma_std", 4).alias("luma_std"),
    ).orderBy("media_id")


# --------------------------------------------------------------------------
# Q117/Q118: TPC-H Q8 market share + quality-weighted corpus sampling
# --------------------------------------------------------------------------
@_declare(
    "q117_market_share",
    """
    WITH rn AS (SELECT n_nationkey, n_name
                FROM nation JOIN region ON n_regionkey = r_regionkey
                WHERE r_name = 'ASIA'),
    base AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) o_year,
             l.l_extendedprice * (1 - l.l_discount) volume,
             sn.n_name supp_nation
      FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN rn ON c.c_nationkey = rn.n_nationkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00')
    SELECT o_year,
           ROUND(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                          ELSE 0 END) / SUM(volume), 4) + 0 mkt_share
    FROM base GROUP BY o_year ORDER BY o_year
    """,
)
def q117(spark, sf_dir):
    """TPC-H Q8 shape: one supplier nation's share of a region's
    market by year. The region filter prunes customers via the
    broadcast nation|><|region chain BEFORE the fact join (the 'ASIA
    customers only' semi-join effect), supplier's nation joins as a
    25-row broadcast, and the share is a conditional aggregate — one
    pass, no self-join of the fact. Order-date bounds push to the
    orders scan."""
    rg = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    rn = (
        load_table(spark, sf_dir, "nation")
        .join(F.broadcast(rg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("_cnk"))
    )
    sup_nat = (
        load_table(spark, sf_dir, "nation")
        .select(
            F.col("n_nationkey").alias("_snk"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    cu = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(rn), F.col("c_nationkey") == F.col("_cnk"))
        .select("c_custkey")
    )
    od = load_table(
        spark, sf_dir, "orders",
        ts_filters=[
            ("o_orderdate", ">=", "1996-01-01 00:00:00"),
            ("o_orderdate", "<", "1998-01-01 00:00:00"),
        ],
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    su = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cu, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(sup_nat), F.col("s_nationkey") == F.col("_snk")
        )
    )
    share = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0)
    ) / F.sum(vol)
    return (
        base.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg((F.round(share, 4) + F.lit(0.0)).alias("mkt_share"))
        .orderBy("o_year")
    )


@_declare(
    "q118_quality_weighted_sample",
    r"""
    WITH q AS (
      SELECT doc_id, source,
             least(len(regexp_extract_all(text, '\S+')) / 60.0, 1.0) w,
             CAST(('0x' || substr(md5('qw:' || CAST(doc_id AS VARCHAR)),
                                  1, 8)) AS BIGINT) / 4294967296.0 u
      FROM documents)
    SELECT source, CAST(COUNT(*) AS BIGINT) n_total,
           CAST(SUM(CASE WHEN u < w THEN 1 ELSE 0 END) AS BIGINT) n_kept,
           ROUND(AVG(w), 4) mean_w
    FROM q GROUP BY source ORDER BY source
    """,
)
def q118(spark, sf_dir):
    """Quality-weighted importance sampling: keep probability ∝ a
    quality weight (token count capped at 60 → [0,1]), decided by the
    portable md5 u01 draw (operators/sampling.u01) — a 0.9-quality doc
    survives 9× as often as a 0.1 one, bit-reproducibly on any engine,
    any cluster size, any partitioning. Stateless row-local map, no
    shuffle before the audit aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.least(
        F.size(tx.tokens(F.col("text"))) / F.lit(60.0), F.lit(1.0)
    )
    scored = docs.withColumn("w", w).withColumn(
        "u", smp.u01(F.col("doc_id"), "qw")
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(
                F.when(F.col("u") < F.col("w"), 1).otherwise(0)
            ).cast("long").alias("n_kept"),
            F.round(F.avg("w"), 4).alias("mean_w"),
        )
        .orderBy("source")
    )


@_declare(
    "q119_time_to_next_view",
    """
    WITH l AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), r AS (
      SELECT user_id, ts FROM events WHERE event_type = 'view'
      GROUP BY user_id, ts
    ), j AS (
      SELECT l.event_id, l.ts, r.ts rts
      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts
    ), t AS (
      SELECT event_id,
             CASE WHEN rts IS NOT NULL
                   AND epoch(rts) - epoch(ts) <= 1800
                  THEN epoch(rts) - epoch(ts) END lat
      FROM j)
    SELECT CAST(COUNT(*) AS BIGINT) n_clicks,
           CAST(COUNT(lat) AS BIGINT) n_matched,
           ROUND(AVG(lat), 4) + 0 mean_latency_s
    FROM t
    """,
)
def q119(spark, sf_dir):
    """FORWARD as-of join: for each click, the next view by the same
    user within 30 minutes — time-to-next-engagement, the mirror of
    q101's last-touch attribution. Same single-shuffle union-trick
    plan as the backward direction (operators/timeseries.asof_join
    direction='forward'): sides tagged, sorted by (ts, side) in the
    key partition, nearest eligible right row propagated with a
    one-sided window frame — never a range self-join."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id", "ts")
        .distinct()
        .withColumn("one", F.lit(1))
    )
    j = tso.asof_join(
        clicks, views, key="user_id",
        value_cols=("one",), tolerance_seconds=1800,
        direction="forward",
    )
    lat = F.when(
        F.col("ts_asof").isNotNull(),
        F.col("ts_asof").cast("timestamp").cast("double")
        - F.col("ts").cast("timestamp").cast("double"),
    )
    t = j.select(lat.alias("lat"))
    return t.agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.count("lat").alias("n_matched"),
        (F.round(F.avg("lat"), 4) + F.lit(0.0)).alias("mean_latency_s"),
    )


# --------------------------------------------------------------------------
# Q120-Q122: percentile bands, rolling distinct, CDC latest-state
# --------------------------------------------------------------------------
@_declare(
    "q120_daily_percentile_bands",
    """
    SELECT event_type, date_trunc('day', ts) d,
           ROUND(quantile_cont(value, 0.5), 4) p50,
           ROUND(quantile_cont(value, 0.95), 4) p95,
           ROUND(quantile_cont(value, 0.99), 4) p99,
           CAST(COUNT(value) AS BIGINT) c
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q120(spark, sf_dir):
    """Daily latency-band dashboard: exact interpolated P50/P95/P99
    per event_type per day (Spark `percentile` ≡ DuckDB
    `quantile_cont`, the q55 equivalence, now as a time series). One
    hash agg keyed (type, day); at 100 TB swap `percentile` for
    `approx_percentile` (the q64 twin pins that path's error
    bound)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    pct = F.percentile("value", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)))
    return (
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("d"))
        .agg(pct.alias("_p"), F.count("value").alias("c"))
        .select(
            "event_type", "d",
            F.round(F.col("_p")[0], 4).alias("p50"),
            F.round(F.col("_p")[1], 4).alias("p95"),
            F.round(F.col("_p")[2], 4).alias("p99"),
            "c",
        )
        .orderBy("event_type", "d")
    )


@_declare(
    "q121_rolling_7d_distinct",
    """
    WITH contrib AS (
      SELECT date_trunc('day', ts) + INTERVAL (o.o) DAY wday, user_id
      FROM events
      CROSS JOIN (SELECT unnest(range(0, 7)) o) o),
    r AS (SELECT wday, COUNT(DISTINCT user_id) u, COUNT(*) n
          FROM contrib GROUP BY wday)
    SELECT wday, CAST(u AS BIGINT) active_users,
           CAST(n AS BIGINT) window_events
    FROM r ORDER BY wday
    """,
)
def q121(spark, sf_dir):
    """Trailing-7-day active users per day — the sliding DISTINCT
    aggregate no window frame can express (COUNT(DISTINCT) OVER RANGE
    is unsupported everywhere). The scale rewrite: each event
    CONTRIBUTES to the 7 window-days it falls into (explode a 7-row
    sequence — bounded fan-out), then one ordinary distinct agg per
    window-day. Shuffle volume is 7×|events| ids, not |events|×|days|;
    no self-join of the fact against a calendar."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    contrib = ev.select(
        F.explode(
            F.sequence(day, day + F.expr("INTERVAL 6 DAYS"),
                       F.expr("INTERVAL 1 DAY"))
        ).alias("wday"),
        "user_id",
    )
    return (
        contrib.groupBy("wday")
        .agg(
            F.countDistinct("user_id").alias("active_users"),
            F.count(F.lit(1)).alias("window_events"),
        )
        .orderBy("wday")
    )


@_declare(
    "q122_latest_state_snapshot",
    """
    WITH r AS (
      SELECT user_id, event_type, ts, event_id, value,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) rn
      FROM events)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) n_keys,
           ROUND(SUM(value), 4) latest_sum,
           CAST(MAX(event_id) AS BIGINT) max_event
    FROM r WHERE rn = 1 GROUP BY event_type ORDER BY event_type
    """,
)
def q122(spark, sf_dir):
    """CDC compaction / SCD-1 snapshot: collapse an append log to the
    LATEST row per key ((user_id, event_type) here), deterministic via
    the (ts, event_id) total order. Spark side uses `max_by` over the
    lexicographic version struct — one map-side-combinable hash agg,
    no window sort, no shuffle of pre-aggregated rows: the shape that
    turns a 100 TB changelog into a current-state table."""
    ev = load_table(spark, sf_dir, "events")
    ver = F.struct("ts", "event_id")
    latest = (
        ev.groupBy("user_id", "event_type")
        .agg(
            F.max_by(F.struct("value", "event_id"), ver).alias("_w")
        )
        .select(
            "event_type",
            F.col("_w.value").alias("value"),
            F.col("_w.event_id").alias("event_id"),
        )
    )
    return (
        latest.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.round(F.sum("value"), 4).alias("latest_sum"),
            F.max("event_id").alias("max_event"),
        )
        .orderBy("event_type")
    )


@_declare(
    "q123_stream_trends",
    """
    SELECT user_id, event_type,
           ROUND(regr_slope(value, floor(epoch(ts))) * 86400, 4) + 0
             slope_per_day,
           ROUND(regr_r2(value, floor(epoch(ts))), 4) + 0 r2,
           CAST(COUNT(value) AS BIGINT) c
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2 HAVING COUNT(value) >= 10 ORDER BY 1, 2
    """,
)
def q123(spark, sf_dir):
    """Per-stream trend detection: OLS slope of value over time
    (scaled to per-day) + R² for every stream with ≥10 points — the
    'which sensors are drifting' sweep. regr_slope/regr_r2 are
    built-in map-side-combinable aggregates on both engines, so the
    whole sweep is ONE hash agg over the fact scan: no per-stream
    loop, no window, no collect — the form that runs unchanged over a
    million streams."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    et = F.floor(F.col("ts").cast("timestamp").cast("double"))
    return (
        ev.groupBy("user_id", "event_type")
        .agg(
            (
                F.round(F.regr_slope(F.col("value"), et) * 86400, 4)
                + F.lit(0.0)
            ).alias("slope_per_day"),
            (
                F.round(F.regr_r2(F.col("value"), et), 4) + F.lit(0.0)
            ).alias("r2"),
            F.count("value").alias("c"),
        )
        .filter(F.col("c") >= 10)
        .orderBy("user_id", "event_type")
    )


@_declare(
    "q124_containment_pairs",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(regexp_extract_all(text,'\S+')) - 1, 1)),
               i -> regexp_extract_all(text,'\S+')[i] || ' ' ||
                    regexp_extract_all(text,'\S+')[i+1] || ' ' ||
                    regexp_extract_all(text,'\S+')[i+2])) sh
      FROM documents WHERE doc_id < 200),
    p AS (SELECT a.doc_id a, b.doc_id b,
                 len(list_intersect(a.sh, b.sh)) * 1.0
                 / NULLIF(least(len(a.sh), len(b.sh)), 0) cont
          FROM t a JOIN t b ON a.doc_id < b.doc_id)
    SELECT a, b, ROUND(cont, 4) containment FROM p
    WHERE cont >= 0.5 ORDER BY a, b
    """,
)
def q124(spark, sf_dir):
    """Doc-contains-doc detection via the overlap coefficient
    |A∩B|/min(|A|,|B|) (operators/dedup.containment_pairs): a page
    that wholesale-embeds a smaller page scores ~1.0 here but low
    Jaccard, so symmetric near-dedup (q36/q48) misses it. Candidates
    come from the inverted shingle index (equi-join on shingle, never
    all-pairs); at scale the same function accepts minhash-band
    candidate pairs instead."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    )
    pairs = dd.containment_pairs(docs, pairs=None, shingle_n=3)
    return (
        pairs.filter(F.col("containment") >= 0.5)
        .select("a", "b", F.round("containment", 4).alias("containment"))
        .orderBy("a", "b")
    )


# --------------------------------------------------------------------------
# Q125/Q126: TPC-H Q17 decorrelation + graph-valued downsampling
# --------------------------------------------------------------------------
@_declare(
    "q125_small_quantity_revenue",
    """
    WITH pa AS (SELECT l_partkey, AVG(l_quantity) aq
                FROM lineitem GROUP BY 1)
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 4) + 0 avg_yearly,
           CAST(COUNT(*) AS BIGINT) n
    FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey AND p.p_brand = 'Brand#5'
      JOIN pa ON l.l_partkey = pa.l_partkey
    WHERE l.l_quantity < 0.5 * pa.aq
    """,
)
def q125(spark, sf_dir):
    """TPC-H Q17 shape: revenue from unusually-small orders of one
    brand's parts. The correlated scalar subquery (quantity <
    0.5·avg(quantity) FOR THAT PART) decorrelates into one per-part
    aggregate joined back on partkey — the aggregate output is
    |parts| rows, broadcastable, so the fact is scanned twice but
    shuffled never; the brand filter prunes the part dim to ~1/25
    before its join."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    pa = li.groupBy("l_partkey").agg(
        F.avg("l_quantity").alias("aq")
    ).withColumnRenamed("l_partkey", "_pk")
    pt = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#5")
        .select("p_partkey")
    )
    return (
        li.join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(pa), F.col("l_partkey") == F.col("_pk"))
        .filter(F.col("l_quantity") < 0.5 * F.col("aq"))
        .agg(
            (
                F.round(F.sum("l_extendedprice") / 7.0, 4) + F.lit(0.0)
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@_declare(
    "q126_graph_downsample",
    """
    WITH o AS (
      SELECT user_id, date_trunc('day', ts) d, event_type,
             LAG(event_type) OVER (PARTITION BY user_id,
                                                date_trunc('day', ts)
                                   ORDER BY ts, event_id) prev
      FROM events),
    g AS (
      SELECT user_id, d,
             COUNT(DISTINCT event_type) nv,
             COUNT(DISTINCT CASE WHEN prev IS NOT NULL
                   THEN prev || '>' || event_type END) ne
      FROM o GROUP BY 1, 2)
    SELECT user_id, CAST(COUNT(*) AS BIGINT) n_graphs,
           ROUND(AVG(nv), 4) mean_vertices,
           ROUND(AVG(ne), 4) mean_edges
    FROM g GROUP BY user_id ORDER BY user_id
    """,
)
def q126(spark, sf_dir):
    """Graph-valued datapoints as a DECLARED query (SURVEY §1.1: the
    reference's third value_type — stored topology snapshots whose
    only computations are construction and counting). Each stream-day
    materializes a behavior graph in the §1.3 nested shape —
    ``v ARRAY<STRUCT<i>>`` = distinct event types, ``e
    ARRAY<STRUCT<f,t>>`` = distinct consecutive transitions — then the
    downsample counts |v| and |e| FROM THE STRUCT, proving the nested
    construction, not just the arithmetic. collect_list runs per
    (user, day) partition after a lag window on the same key: one
    shuffle end-to-end."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    w = Window.partitionBy("user_id", day).orderBy("ts", "event_id")
    o = ev.select(
        "user_id", day.alias("d"), "event_type",
        F.lag("event_type").over(w).alias("prev"),
    )
    graphs = o.groupBy("user_id", "d").agg(
        F.transform(
            F.array_sort(F.collect_set("event_type")),
            lambda t: F.struct(t.alias("i")),
        ).alias("v"),
        F.transform(
            F.array_sort(
                F.collect_set(
                    F.when(
                        F.col("prev").isNotNull(),
                        F.struct(
                            F.col("prev").alias("f"),
                            F.col("event_type").alias("t"),
                        ),
                    )
                )
            ),
            lambda s: s,
        ).alias("e"),
    )
    return (
        graphs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_graphs"),
            F.round(F.avg(F.size("v")), 4).alias("mean_vertices"),
            F.round(F.avg(F.size("e")), 4).alias("mean_edges"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Q127–Q129: TPC-H Q13 distribution + LM-perplexity filter + domain shift
# --------------------------------------------------------------------------
@_declare(
    "q127_order_count_distribution",
    """
    WITH c_orders AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY 1)
    SELECT CAST(c_count AS BIGINT) c_count,
           CAST(COUNT(*) AS BIGINT) custdist
    FROM c_orders GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q127(spark, sf_dir):
    """TPC-H Q13 shape: the distribution of per-customer order counts,
    INCLUDING zero-order customers — which forces a LEFT OUTER join
    (an inner join would silently drop the most interesting bucket)
    followed by a double aggregation (count per customer, then
    count-of-counts).  At scale the outer join shuffles both sides on
    custkey once; the second aggregate's input is |customers| rows and
    its output is tiny (distinct count values), so the histogram step
    is effectively free.  COUNT(o_orderkey) — not COUNT(*) — is what
    makes the unmatched-row count come out 0."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey"
    )
    co = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        co.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@_declare(
    "q128_perplexity_filter",
    r"""
    WITH b AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(ts), 1)),
                            i -> ts[i] || ' ' || ts[i+1]) bgs
      FROM (SELECT doc_id, regexp_extract_all(text, '\S+') ts
            FROM documents)),
    db AS (SELECT doc_id, bg FROM b, UNNEST(bgs) AS u(bg)),
    uni AS (SELECT split_part(bg, ' ', 1) w1, COUNT(*) c1
            FROM db GROUP BY 1),
    big AS (SELECT bg, COUNT(*) cb FROM db GROUP BY 1),
    scored AS (
      SELECT d.doc_id, COUNT(*) nb,
             AVG(ln(big.cb * 1.0 / uni.c1)) alp
      FROM db d
        JOIN big USING (bg)
        JOIN uni ON split_part(d.bg, ' ', 1) = uni.w1
      GROUP BY 1)
    SELECT doc_id, CAST(nb AS BIGINT) n_bigrams,
           ROUND(alp, 4) + 0 avg_logp
    FROM scored ORDER BY doc_id
    """,
)
def q128(spark, sf_dir):
    """CCNet-style perplexity filtering (functions/text.bigram_lm_scores):
    train a bigram MLE model on the corpus itself, score each doc by
    mean bigram log-probability, so downstream filters can drop the
    high-perplexity tail.  The LM "training" is just two hash aggs
    over exploded bigrams and the scoring is two equi-joins — the
    whole filter is linear in corpus tokens with no Python, no
    broadcast of anything vocabulary-sized, and no model artifact to
    ship."""
    docs = load_table(spark, sf_dir, "documents")
    scored = tx.bigram_lm_scores(docs)
    return scored.select(
        "doc_id",
        "n_bigrams",
        (F.round("avg_logp", 4) + F.lit(0.0)).alias("avg_logp"),
    ).orderBy("doc_id")


@_declare(
    "q129_source_kl_divergence",
    r"""
    WITH tok AS (
      SELECT source, t AS w
      FROM (SELECT source, regexp_extract_all(text, '\S+') ts
            FROM documents), UNNEST(ts) AS u(t)),
    sw AS (SELECT source, w, COUNT(*) c FROM tok GROUP BY 1, 2),
    s AS (SELECT source, SUM(c) sc FROM sw GROUP BY 1),
    w AS (SELECT w, SUM(c) wc FROM sw GROUP BY 1),
    tot AS (SELECT SUM(c) tc FROM sw)
    SELECT sw.source, CAST(s.sc AS BIGINT) n_tokens,
           ROUND(SUM((sw.c * 1.0 / s.sc)
                     * ln((sw.c * 1.0 / s.sc)
                          / (w.wc * 1.0 / tot.tc))), 4) + 0 kl
    FROM sw JOIN s USING (source) JOIN w USING (w) CROSS JOIN tot
    GROUP BY sw.source, s.sc ORDER BY source
    """,
)
def q129(spark, sf_dir):
    """Per-source domain-shift audit (functions/text.source_kl_divergence):
    KL(source ‖ corpus) over unigram distributions.  Mix designers use
    this to spot a crawl source drifting away from the training mix.
    One explode, one (source, word) agg, marginals derived from that
    agg without rescanning, a word-key join back, and a per-source
    sum — every step map-side combinable and linear."""
    docs = load_table(spark, sf_dir, "documents")
    kl = tx.source_kl_divergence(docs)
    return kl.select(
        "source",
        "n_tokens",
        (F.round("kl", 4) + F.lit(0.0)).alias("kl"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# Q130–Q132: co-occurrence mining, equi-depth banding, chunk-dedup rewrite
# --------------------------------------------------------------------------
@_declare(
    "q130_copurchase_pairs",
    """
    WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pr AS (SELECT a.l_partkey pa, b.l_partkey pb, COUNT(*) cnt
           FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
                             AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2)
    SELECT CAST(pa AS BIGINT) pa, CAST(pb AS BIGINT) pb,
           CAST(cnt AS BIGINT) cnt
    FROM pr WHERE cnt >= 2
    ORDER BY cnt DESC, pa, pb LIMIT 50
    """,
)
def q130(spark, sf_dir):
    """Market-basket co-occurrence mining: part pairs that appear in
    the same order, counted across all orders.  The within-order
    self-join is quadratic ONLY in order size (bounded at ~7 lines in
    this schema — per-row work is O(basket²), not O(N²)), and the pair
    aggregation is one hash shuffle on the (pa, pb) key.  DISTINCT
    first so a part twice in one order doesn't inflate its pairs; the
    a < b predicate halves the join output and canonicalizes pair
    orientation.  (cnt DESC, pa, pb) is a total order, so the LIMIT
    is deterministic.

    r11 (guide §2.4 superset-key exchange sharing, the q107 pattern):
    the dedup rides an orderkey-keyed repartition — hash(l_orderkey)
    clusters (l_orderkey, l_partkey) too, so the dropDuplicates needs
    no second exchange and the self-join on l_orderkey reuses the SAME
    exchange on both sides (plan: 2 full-table Exchanges → 1 + a
    ReusedExchange). Per-key fan-in is bounded by order size (~7
    lines), so the narrower key cannot skew.  No scatter: the keyed
    repartition directly above is the parallelizing exchange — a
    round-robin fan-out under it collapses into it (the executed plan
    showed scan→keyed exchange either way; VERDICT r11 #3)."""
    lp = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition(F.col("l_orderkey"))
        .dropDuplicates(["l_orderkey", "l_partkey"])
    )
    a = lp.alias("a")
    b = lp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .orderBy(F.desc("cnt"), "pa", "pb")
        .limit(50)
    )


@_declare(
    "q131_equidepth_bands",
    """
    WITH bs AS (
      SELECT quantile_cont(l_extendedprice,
               [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) b
      FROM lineitem),
    banded AS (
      SELECT 1 + len(list_filter(bs.b, x -> l.l_extendedprice > x)) band,
             l.l_extendedprice p
      FROM lineitem l CROSS JOIN bs)
    SELECT CAST(band AS BIGINT) band, CAST(COUNT(*) AS BIGINT) n,
           ROUND(MIN(p), 4) + 0 lo, ROUND(MAX(p), 4) + 0 hi,
           ROUND(SUM(p), 2) + 0 total
    FROM banded GROUP BY band ORDER BY band
    """,
)
def q131(spark, sf_dir):
    """Equi-depth (decile) histogram the scale-true way: boundaries
    come from ONE percentile aggregate (9 doubles — broadcast to every
    task), and band assignment is a row-local array scan, so there is
    no ntile window collapsing the table onto a single reducer for
    assignment.  At 100 TB the only change is `approx_percentile`
    for the boundary agg (the q64 sketch pairing); assignment is
    untouched.  Spark `percentile` == DuckDB `quantile_cont`
    (both linear-interpolation), same pairing q55 pins.

    Optimization r11 (guide §1.2 "per-task work"): the boundary agg is
    spelled as rank-select over a global sort instead of the built-in
    exact `percentile` — the TypedImperativeAggregate buffers every
    value in a boxed OpenHashMap and measured 2.1 s on 600k doubles
    even when scattered, vs ~1.0 s for sort + row_number + an
    interpolation join, reproducing Percentile.getPercentile's
    ``lower*(1-frac) + higher*frac`` bit-for-bit (verified at all
    three SFs).  Both forms funnel the full value multiset through one
    node (map buffer vs sort partition) — the production answer
    remains the sketch, unchanged."""
    li = load_table(spark, sf_dir, "lineitem", scatter=True).select(
        "l_extendedprice"
    )
    qs = [x / 10.0 for x in range(1, 10)]
    ranked = li.select(F.col("l_extendedprice").alias("v")).select(
        "v",
        (F.row_number().over(Window.orderBy("v")) - 1).cast("long").alias("rn"),
    )
    nrow = li.agg(F.count(F.lit(1)).alias("n"))
    bounds = (
        nrow.select(
            F.posexplode(F.array(*[F.lit(q) for q in qs])).alias("qi", "q"),
            "n",
        )
        .select("qi", ((F.col("n") - 1) * F.col("q")).alias("h"))
        .select(
            "qi",
            "h",
            F.floor("h").cast("long").alias("i0"),
            F.ceil("h").cast("long").alias("i1"),
        )
    )
    frac = F.col("h") - F.floor("h")
    vals = (
        ranked.join(
            F.broadcast(bounds),
            (F.col("rn") == F.col("i0")) | (F.col("rn") == F.col("i1")),
        )
        .groupBy("qi", "h", "i0", "i1")
        .agg(
            F.max(F.when(F.col("rn") == F.col("i0"), F.col("v"))).alias("v0"),
            F.max(F.when(F.col("rn") == F.col("i1"), F.col("v"))).alias("v1"),
        )
        .select(
            "qi",
            F.when(F.col("i0") == F.col("i1"), F.col("v0"))
            .otherwise(F.col("v0") * (F.lit(1.0) - frac) + F.col("v1") * frac)
            .alias("bv"),
        )
    )
    bs = vals.agg(
        F.sort_array(F.collect_list(F.struct("qi", "bv"))).alias("s")
    ).select(F.transform("s", lambda x: x["bv"]).alias("b"))
    banded = li.crossJoin(F.broadcast(bs)).select(
        (
            1
            + F.size(
                F.filter(
                    F.col("b"), lambda x: F.col("l_extendedprice") > x
                )
            )
        ).cast("long").alias("band"),
        F.col("l_extendedprice").alias("p"),
    )
    return (
        banded.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.round(F.min("p"), 4) + F.lit(0.0)).alias("lo"),
            (F.round(F.max("p"), 4) + F.lit(0.0)).alias("hi"),
            (F.round(F.sum("p"), 2) + F.lit(0.0)).alias("total"),
        )
        .orderBy("band")
    )


@_declare(
    "q132_chunk_dedup_rewrite",
    r"""
    WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') ts
               FROM documents),
    ch AS (
      SELECT doc_id, i idx,
             array_to_string(list_slice(ts, i * 10 + 1,
                             least((i + 1) * 10, len(ts))), ' ') chunk
      FROM t, UNNEST(range(0, CAST(ceil(len(ts) / 10.0) AS INT))) u(i)),
    rn AS (
      SELECT doc_id, idx, chunk,
             ROW_NUMBER() OVER (PARTITION BY chunk
                                ORDER BY doc_id, idx) r
      FROM ch),
    kept AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_kept,
             md5(string_agg(chunk, ' ' ORDER BY idx)) kept_md5
      FROM rn WHERE r = 1 GROUP BY doc_id),
    tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_chunks
            FROM ch GROUP BY doc_id)
    SELECT d.doc_id, COALESCE(t.n_chunks, 0) n_chunks,
           COALESCE(k.n_kept, 0) n_kept, k.kept_md5
    FROM documents d
      LEFT JOIN tot t USING (doc_id)
      LEFT JOIN kept k USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def q132(spark, sf_dir):
    """C4/RefinedWeb-style chunk-level dedup WITH corpus rewrite: split
    every doc into non-overlapping 10-token chunks
    (functions/text.chunk_documents with stride == chunk_size), keep
    only the globally-first occurrence of each chunk (first = lowest
    (doc_id, idx) — a deterministic survivor rule, same spirit as
    q35), and reassemble what's left of each document in order.  The
    result pins both the drop COUNTS and the surviving TEXT (md5 of
    the reassembly), so a wrong reassembly order can't hide behind
    right counts.  Shape: explode → one window on the chunk hash key
    (the dedup shuffle) → one per-doc agg; the reassembly uses
    array_sort(collect_list(struct(idx, chunk))) inside the agg, never
    a driver sort.  Linear in corpus tokens at any scale."""
    # r11: scatter the single-row-group scan — the tokenize+chunk
    # explode otherwise runs as ONE task (finding 1)
    docs = load_table(spark, sf_dir, "documents", scatter=True)
    ch = tx.chunk_documents(docs, chunk_size=10, stride=10).select(
        "doc_id",
        F.col("chunk_idx").alias("idx"),
        F.col("chunk_text").alias("chunk"),
    )
    # shuffle on the fixed-width md5 digest, not the raw chunk text
    # (spans.py convention: bounded, skew-resistant shuffle keys)
    w = Window.partitionBy(F.md5("chunk")).orderBy("doc_id", "idx")
    # one window to rank occurrences, then ONE per-doc agg computes
    # totals, kept counts, and the ordered reassembly together —
    # collect_list drops the when()-nulls of non-survivor chunks, so
    # no second scan of the exploded chunks and no kept/total join
    per_doc = (
        ch.withColumn("r", F.row_number().over(w))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count_if(F.col("r") == 1).alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("r") == 1,
                                    F.struct("idx", "chunk"),
                                )
                            )
                        ),
                        lambda s: s.chunk,
                    ),
                    " ",
                )
            ).alias("md5_all"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_kept",
            F.when(F.col("n_kept") > 0, F.col("md5_all")).alias(
                "kept_md5"
            ),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            "kept_md5",
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Q133–Q135: higher moments, cross-source leakage matrix, mixture planner
# --------------------------------------------------------------------------
@_declare(
    "q133_higher_moments",
    """
    WITH m AS (SELECT event_type, AVG(value) mu
               FROM events WHERE value IS NOT NULL GROUP BY 1)
    SELECT e.event_type,
           ROUND(AVG(POW(value - mu, 3))
                 / POW(AVG(POW(value - mu, 2)), 1.5), 4) + 0 skew,
           ROUND(AVG(POW(value - mu, 4))
                 / POW(AVG(POW(value - mu, 2)), 2) - 3, 4) + 0 kurt
    FROM events e JOIN m USING (event_type)
    WHERE value IS NOT NULL
    GROUP BY e.event_type ORDER BY e.event_type
    """,
)
def q133(spark, sf_dir):
    """Third/fourth-moment aggregates per group: population skewness
    (m3/m2^1.5) and excess kurtosis (m4/m2² − 3) — the distribution-
    shape downsamplers beyond q63's co-moments.  Spark's builtin
    `skewness`/`kurtosis` ARE these population forms, computed in ONE
    pass via streaming co-moment updates (map-side combinable); the
    oracle spells the same statistics as an explicit two-pass
    mean-then-central-moment computation, so the comparison also pins
    the one-pass formulation's numerical agreement."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    return (
        ev.groupBy("event_type")
        .agg(
            (F.round(F.skewness("value"), 4) + F.lit(0.0)).alias("skew"),
            (F.round(F.kurtosis("value"), 4) + F.lit(0.0)).alias("kurt"),
        )
        .orderBy("event_type")
    )


@_declare(
    "q134_cross_source_leakage",
    r"""
    WITH t AS (SELECT source, regexp_extract_all(text, '\S+') ts
               FROM documents),
    ch AS (SELECT DISTINCT source,
                  array_to_string(list_slice(ts, i * 10 + 1,
                                             (i + 1) * 10), ' ') chunk
           FROM t, UNNEST(range(0, CAST(ceil(len(ts) / 10.0) AS INT))) u(i)
           WHERE len(ts) - i * 10 >= 10)
    SELECT a.source sa, b.source sb, CAST(COUNT(*) AS BIGINT) shared
    FROM ch a JOIN ch b ON a.chunk = b.chunk AND a.source < b.source
    GROUP BY 1, 2 HAVING COUNT(*) >= 3
    ORDER BY shared DESC, sa, sb
    """,
)
def q134(spark, sf_dir):
    """Cross-source contamination matrix: how many distinct full
    10-token chunks each PAIR of sources shares — the diagnostic a mix
    designer reads before deduplicating across crawls (exact doc-hash
    sharing is zero here, so chunk granularity is what surfaces the
    leakage).  Shape: chunk explode → per-source DISTINCT (one hash
    agg) → self equi-join ON THE CHUNK KEY (an inverted index join —
    never source×source×corpus) → pair count.  Join fan-out per chunk
    is (#sources containing it)², bounded by the source count, not the
    corpus."""
    docs = load_table(spark, sf_dir, "documents", scatter=True)
    ch = (
        tx.chunk_documents(docs, chunk_size=10, stride=10)
        .filter(F.col("n_chunk_tokens") == 10)
        .join(docs.select("doc_id", "source"), "doc_id")
        # fixed-width digest as the distinct/join key (spans.py
        # convention) — the raw chunk text never rides a shuffle
        .select("source", F.md5(F.col("chunk_text")).alias("chunk"))
        .distinct()
    )
    a, b = ch.alias("a"), ch.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("sa"), F.col("b.source").alias("sb")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= 3)
        .orderBy(F.desc("shared"), "sa", "sb")
    )


@_declare(
    "q135_mixture_planner",
    r"""
    WITH src AS (
      SELECT source,
             SUM(len(regexp_extract_all(text, '\S+'))) toks
      FROM documents GROUP BY 1),
    tot AS (SELECT SUM(toks) t, COUNT(*) k FROM src)
    SELECT source, CAST(toks AS BIGINT) toks,
           CAST(FLOOR(tot.t * 1.0 / tot.k) AS BIGINT) target_toks,
           ROUND(LEAST(1.0, (tot.t * 1.0 / tot.k) / toks), 4) + 0 sample_rate,
           ROUND((tot.t * 1.0 / tot.k) / toks, 4) + 0 epochs
    FROM src CROSS JOIN tot ORDER BY source
    """,
)
def q135(spark, sf_dir):
    """Training-mix planning: given per-source token inventories and a
    uniform target mix, emit each source's token budget, subsampling
    rate (capped at 1.0 — you can't sample more than you have without
    repeating), and the epoch multiplier (>1 means the source must be
    repeated to hit its share — the Chinchilla-style repetition
    signal).  One token-count aggregate, one 2-value broadcast total;
    the plan is a mix-design artifact computed entirely inside the
    engine, feeding q51's deterministic mixer as its rate table."""
    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.sum(tx.token_count(F.col("text"))).alias("toks")
    )
    tot = src.agg(
        F.sum("toks").alias("t"), F.count(F.lit(1)).alias("k")
    )
    target = F.col("t") / F.col("k")
    return (
        src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("toks").cast("long").alias("toks"),
            F.floor(target).cast("long").alias("target_toks"),
            (
                F.round(F.least(F.lit(1.0), target / F.col("toks")), 4)
                + F.lit(0.0)
            ).alias("sample_rate"),
            (F.round(target / F.col("toks"), 4) + F.lit(0.0)).alias(
                "epochs"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Q136–Q138: unpivot/melt, BM25 search scoring, winsorized robust mean
# --------------------------------------------------------------------------
@_declare(
    "q136_unpivot_metrics",
    """
    WITH w AS (
      SELECT event_type,
             ROUND(AVG(value), 4) + 0 mean,
             ROUND(SUM(value), 4) + 0 total,
             ROUND(MIN(value), 4) + 0 low,
             ROUND(MAX(value), 4) + 0 high
      FROM events WHERE value IS NOT NULL GROUP BY 1)
    SELECT event_type, metric, val FROM (
      SELECT event_type, 'mean'  metric, mean  val FROM w UNION ALL
      SELECT event_type, 'total', total FROM w UNION ALL
      SELECT event_type, 'low',   low   FROM w UNION ALL
      SELECT event_type, 'high',  high  FROM w)
    ORDER BY event_type, metric
    """,
)
def q136(spark, sf_dir):
    """Wide→long reshaping with the native `unpivot` (melt) operator —
    the inverse of q61's pivot, closing the reshape surface.  Unpivot
    is a row-local expansion (each input row emits k metric rows, no
    shuffle beyond the upstream agg), which is why engines implement
    it as a generator expression, not a join; the oracle spells the
    same thing as the classic UNION ALL."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    wide = ev.groupBy("event_type").agg(
        (F.round(F.avg("value"), 4) + F.lit(0.0)).alias("mean"),
        (F.round(F.sum("value"), 4) + F.lit(0.0)).alias("total"),
        (F.round(F.min("value"), 4) + F.lit(0.0)).alias("low"),
        (F.round(F.max("value"), 4) + F.lit(0.0)).alias("high"),
    )
    return wide.unpivot(
        ["event_type"], ["mean", "total", "low", "high"], "metric", "val"
    ).orderBy("event_type", "metric")


def _bm25_scores(docs, terms):
    """BM25 (k1=1.2, b=0.75, +1-smoothed idf) per-doc scores for a
    term set — shared by q137 (top-k) and q148 (rank fusion)."""
    tk = docs.select(
        "doc_id", F.explode(tx.tokens(F.col("text"))).alias("w")
    )
    dl = tk.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    )
    tf = (
        tk.filter(F.col("w").isin(terms))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    denom = F.col("tf") + 1.2 * (
        0.25 + 0.75 * F.col("dl") / F.col("avgdl")
    )
    return (
        tf.join(F.broadcast(df), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            (
                F.round(F.sum(idf * F.col("tf") * 2.2 / denom), 4)
                + F.lit(0.0)
            ).alias("score")
        )
    )


@_declare(
    "q137_bm25_search",
    r"""
    WITH tk AS (SELECT doc_id, t AS w
                FROM (SELECT doc_id, regexp_extract_all(text, '\S+') ts
                      FROM documents), UNNEST(ts) u(t)),
    dl AS (SELECT doc_id, COUNT(*) dl FROM tk GROUP BY 1),
    stats AS (SELECT COUNT(*) n, AVG(dl) avgdl FROM dl),
    tf AS (SELECT doc_id, w, COUNT(*) tf FROM tk
           WHERE w IN ('spark', 'join', 'window') GROUP BY 1, 2),
    df AS (SELECT w, COUNT(*) df FROM tf GROUP BY 1),
    sc AS (
      SELECT tf.doc_id,
             SUM(ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1)
                 * tf.tf * 2.2
                 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)))
               score
      FROM tf JOIN df USING (w) JOIN dl USING (doc_id)
        CROSS JOIN stats
      GROUP BY 1)
    SELECT doc_id, ROUND(score, 4) + 0 score
    FROM sc ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def q137(spark, sf_dir):
    """Full-text relevance search: BM25 (k1=1.2, b=0.75, the
    Robertson/Lucene formulation with the +1-smoothed idf) for the
    query {spark, join, window} over the corpus.  Everything derives
    from ONE token explode: doc lengths, the corpus (N, avgdl) pair
    (2 values — broadcast), per-(doc, term) tf (the term filter prunes
    the explode before any shuffle), and df from tf.  Scoring is a
    term-key join plus a per-doc sum; (score DESC, doc_id) totally
    orders the top-k, which TakeOrderedAndProject evaluates without a
    global sort."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        _bm25_scores(docs, ["spark", "join", "window"])
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )


@_declare(
    "q138_winsorized_mean",
    """
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.05) p05,
             quantile_cont(value, 0.95) p95
      FROM events WHERE value IS NOT NULL GROUP BY 1)
    SELECT e.event_type,
           ROUND(AVG(value), 4) + 0 raw_mean,
           ROUND(AVG(LEAST(GREATEST(value, p05), p95)), 4) + 0 wins_mean,
           CAST(COUNT(*) FILTER (WHERE value < p05 OR value > p95)
                AS BIGINT) n_clipped
    FROM events e JOIN b USING (event_type)
    WHERE value IS NOT NULL
    GROUP BY e.event_type ORDER BY e.event_type
    """,
)
def q138(spark, sf_dir):
    """Winsorized (5%–95%) robust mean per group — the outlier-hardened
    aggregate downstream metrics pipelines use when q71's drop-the-
    outliers filter is too aggressive: extremes are CLIPPED to the
    group's percentile bounds, not discarded, so counts are preserved.
    The per-group bound table is |groups| rows (broadcast join back);
    clipping is row-local; the conditional clip count rides the same
    agg via count-FILTER.  Scale path: swap the exact percentile
    bounds for q64's sketch, everything else unchanged."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    pct = F.percentile("value", F.array(F.lit(0.05), F.lit(0.95)))
    b = ev.groupBy("event_type").agg(
        pct.getItem(0).alias("p05"), pct.getItem(1).alias("p95")
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    return (
        ev.join(F.broadcast(b), "event_type")
        .groupBy("event_type")
        .agg(
            (F.round(F.avg("value"), 4) + F.lit(0.0)).alias("raw_mean"),
            (F.round(F.avg(clipped), 4) + F.lit(0.0)).alias("wins_mean"),
            F.count_if(
                (F.col("value") < F.col("p05"))
                | (F.col("value") > F.col("p95"))
            ).alias("n_clipped"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Q139: suffix-sort longest shared spans (arbitrary-length dup detection)
# --------------------------------------------------------------------------
@_declare(
    "q139_longest_shared_spans",
    r"""
    WITH d AS (SELECT doc_id, regexp_extract_all(text, '\S+') ts
               FROM documents WHERE doc_id < 200),
    sfx AS (
      SELECT doc_id, list_slice(ts, p, least(p + 29, len(ts))) sfx
      FROM d, UNNEST(range(1, len(ts) + 1)) u(p)
      WHERE len(ts) - p + 1 >= 12),
    k AS (SELECT doc_id, sfx, array_to_string(sfx, ' ') sk,
                 sfx[1] w1, sfx[2] w2 FROM sfx),
    lagged AS (
      SELECT doc_id, sfx,
             LAG(doc_id) OVER w pd, LAG(sfx) OVER w ps
      FROM k WINDOW w AS (PARTITION BY w1, w2 ORDER BY sk, doc_id)),
    lcp AS (
      SELECT LEAST(doc_id, pd) a, GREATEST(doc_id, pd) b,
             len(list_filter(range(1, least(len(sfx), len(ps)) + 1),
                             i -> sfx[1:i] = ps[1:i])) l
      FROM lagged WHERE pd IS NOT NULL AND pd <> doc_id)
    SELECT a, b, CAST(MAX(l) AS BIGINT) span_tokens
    FROM lcp GROUP BY 1, 2 HAVING MAX(l) >= 12
    ORDER BY span_tokens DESC, a, b
    """,
)
def q139(spark, sf_dir):
    """Arbitrary-length shared-span mining via suffix sort
    (operators/spans.longest_shared_spans — the Lee et al. 2022
    suffix-array dedup re-expressed on word tokens): where q77 asks
    "do these docs share a 12-gram", this reports HOW LONG the shared
    run actually is (capped at 30 tokens).  The suffix sort is
    prefix-bucketed on the first two tokens so it shuffles once and
    never collapses onto one reducer; per-row LCP work is
    cap-bounded.  Bounded to doc_id < 200 here only to keep the
    DuckDB oracle's list arithmetic cheap — the Spark plan itself is
    linear in corpus tokens."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    )
    from ..operators import spans as sp

    return (
        sp.longest_shared_spans(docs, min_tokens=12, cap=30)
        .orderBy(F.desc("span_tokens"), "a", "b")
    )


# --------------------------------------------------------------------------
# Q140–Q141: period-over-period deltas, ANALYZE-style column statistics
# --------------------------------------------------------------------------
@_declare(
    "q140_week_over_week",
    """
    WITH w AS (
      SELECT date_trunc('week', o_orderdate) wk,
             SUM(o_totalprice) rev, COUNT(*) n
      FROM orders GROUP BY 1)
    SELECT wk, ROUND(rev, 2) + 0 rev, CAST(n AS BIGINT) n,
           ROUND(rev - LAG(rev) OVER (ORDER BY wk), 2) + 0 delta,
           ROUND((rev - LAG(rev) OVER (ORDER BY wk))
                 / NULLIF(LAG(rev) OVER (ORDER BY wk), 0) * 100,
                 4) + 0 pct_change
    FROM w ORDER BY wk
    """,
)
def q140(spark, sf_dir):
    """Period-over-period reporting: weekly revenue with absolute and
    percent change vs the prior week.  The lag window runs over the
    AGGREGATED frame (|weeks| rows — thousands at most, whatever the
    fact size), so the unpartitioned window is trivially safe: the
    heavy lifting is the one calendar-bucket hash agg underneath,
    which scales like any q08-family downsample."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        o.groupBy(F.date_trunc("week", "o_orderdate").alias("wk"))
        .agg(
            F.sum("o_totalprice").alias("rev"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    win = Window.orderBy("wk")
    prev = F.lag("rev").over(win)
    return w.select(
        "wk",
        (F.round("rev", 2) + F.lit(0.0)).alias("rev"),
        "n",
        (F.round(F.col("rev") - prev, 2) + F.lit(0.0)).alias("delta"),
        (
            F.round(
                (F.col("rev") - prev) / F.nullif(prev, F.lit(0)) * 100, 4
            )
            + F.lit(0.0)
        ).alias("pct_change"),
    ).orderBy("wk")


@_declare(
    "q141_column_statistics",
    """
    SELECT 'event_type' col,
           CAST(COUNT(*) AS BIGINT) n_rows,
           CAST(COUNT(event_type) AS BIGINT) n_nonnull,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) ndv,
           CAST(MIN(LENGTH(event_type)) AS BIGINT) min_len,
           CAST(MAX(LENGTH(event_type)) AS BIGINT) max_len
    FROM events
    UNION ALL
    SELECT 'props', CAST(COUNT(*) AS BIGINT), CAST(COUNT(props) AS BIGINT),
           CAST(COUNT(DISTINCT props) AS BIGINT),
           CAST(MIN(LENGTH(props)) AS BIGINT),
           CAST(MAX(LENGTH(props)) AS BIGINT)
    FROM events
    ORDER BY col
    """,
)
def q141(spark, sf_dir):
    """ANALYZE TABLE-style catalog statistics as a query: row count,
    non-null count, NDV, and value-length bounds per string column —
    the numbers a cost-based optimizer feeds on (broadcast-side
    choice, join reordering).  Both columns' stats ride ONE scan: a
    single grouping-free multi-agg computes all ten values (the two
    COUNT DISTINCTs share one Expand), and a row-local explode
    reshapes the 1-row frame to long form — no unionAll of two scans.
    At 100 TB swap COUNT(DISTINCT) for approx_count_distinct (the q66
    sketch — same plan shape without the Expand)."""
    ev = load_table(spark, sf_dir, "events")

    def exprs(col):
        return [
            F.count(F.lit(1)).alias(f"{col}_n_rows"),
            F.count(col).alias(f"{col}_n_nonnull"),
            F.countDistinct(col).alias(f"{col}_ndv"),
            F.min(F.length(col)).cast("long").alias(f"{col}_min_len"),
            F.max(F.length(col)).cast("long").alias(f"{col}_max_len"),
        ]

    one = ev.agg(*(exprs("event_type") + exprs("props")))

    def row(col):
        return F.struct(
            F.lit(col).alias("col"),
            F.col(f"{col}_n_rows").alias("n_rows"),
            F.col(f"{col}_n_nonnull").alias("n_nonnull"),
            F.col(f"{col}_ndv").alias("ndv"),
            F.col(f"{col}_min_len").alias("min_len"),
            F.col(f"{col}_max_len").alias("max_len"),
        )

    return (
        one.select(
            F.explode(F.array(row("event_type"), row("props"))).alias("s")
        )
        .select("s.*")
        .orderBy("col")
    )


# --------------------------------------------------------------------------
# Q142: perceptual image dedup — REAL decode → dHash → Hamming-LSH pairs
# --------------------------------------------------------------------------
@_declare(
    "q142_image_dhash_pairs",
    """
    WITH b AS (SELECT doc_id base FROM documents WHERE doc_id < 100),
    img AS (SELECT base + 100 * t.v id, base, t.v
            FROM b, UNNEST([0, 1, 2]) t(v)),
    grid AS (SELECT i.i, j.j, i.i * 2 y, (j.j * 32) // 9 x
             FROM (SELECT unnest(range(0, 8)) i) i,
                  (SELECT unnest(range(0, 9)) j) j),
    lum AS (
      SELECT img.id, g.i, g.j,
        CASE WHEN img.v = 2 AND g.x = 0 AND g.y = 0 THEN 255.0
        ELSE 0.299 * ((img.base * 7 + g.y * 3 + g.x * 5) % 256)
           + 0.587 * ((img.base * 7 + g.y * 3 + g.x * 5 + 11) % 256)
           + 0.114 * ((img.base * 7 + g.y * 3 + g.x * 5 + 22) % 256)
        END luma
      FROM img CROSS JOIN grid g),
    bits AS (
      SELECT l.id, l.i, l.j,
             CASE WHEN r.luma > l.luma THEN 1 ELSE 0 END bt
      FROM lum l JOIN lum r ON r.id = l.id AND r.i = l.i
                           AND r.j = l.j + 1
      WHERE l.j < 8),
    ch AS (
      SELECT id, (i * 8 + j) // 16 k,
             CAST(SUM(bt * (CAST(1 AS BIGINT)
                             << CAST((i * 8 + j) % 16 AS INT)))
                  AS BIGINT) v
      FROM bits GROUP BY 1, 2),
    cand AS (SELECT DISTINCT a.id ia, b.id ib
             FROM ch a JOIN ch b ON a.k = b.k AND a.v = b.v
                                AND a.id < b.id),
    ham AS (
      SELECT c.ia, c.ib, CAST(SUM(bit_count(xor(ca.v, cb.v))) AS BIGINT) h
      FROM cand c
        JOIN ch ca ON ca.id = c.ia
        JOIN ch cb ON cb.id = c.ib AND cb.k = ca.k
      GROUP BY 1, 2)
    SELECT ia a, ib b, h hamming FROM ham WHERE h <= 3 ORDER BY a, b
    """,
)
def q142(spark, sf_dir):
    """Perceptual image dedup over the REAL decode path: 300 synthetic
    P6 images (3 variants per base — v1 perturbs an UNSAMPLED pixel so
    its dHash is bit-identical, v2 whites out sampled pixel (0,0) so
    exactly one comparison bit can flip), decoded by the actual netpbm
    parser, dHash'd on the 9×8 grid, and paired by the 4×16-bit
    pigeonhole join with exact Hamming verify
    (operators/multimodal.image_dhash_chunks + dhash_near_pairs).
    The oracle re-derives every bit arithmetically from the
    closed-form pixels — q116's trick extended from channel stats to
    the full hash-and-join pipeline, making this a fully
    oracle-checked NEAR-DUP-IMAGE operator, not a rows-only one.
    Map-only until the banded candidate equi-join; bucket sizes track
    duplicate clusters."""
    from ..operators.multimodal import (
        dhash_near_pairs,
        image_dhash_chunks,
    )

    bases = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 100
    )
    ids = bases.select(
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("v"),
        F.col("doc_id").alias("base"),
    ).select((F.col("base") + 100 * F.col("v")).alias("id"), "base", "v")

    def synth(batches):
        import numpy as _np
        import pandas as _pd

        from django_datastream_spark.operators.media_codecs import (
            encode_ppm,
        )

        h, w = 16, 32
        r = _np.arange(h).reshape(h, 1, 1)
        c = _np.arange(w).reshape(1, w, 1)
        k = _np.arange(3).reshape(1, 1, 3)
        base_grid = r * 3 + c * 5 + k * 11
        for pdf in batches:
            payloads = []
            for mid, base, v in zip(pdf["id"], pdf["base"], pdf["v"]):
                a = (int(base) * 7 + base_grid) % 256
                if v == 1:  # unsampled pixel — dHash-invariant edit
                    a = a.copy()
                    a[1, 1, 1] = (a[1, 1, 1] + 50) % 256
                elif v == 2:  # sampled pixel — flips <= 1 dHash bit
                    a = a.copy()
                    a[0, 0, :] = 255
                payloads.append(encode_ppm(a))
            yield _pd.DataFrame(
                {"media_id": pdf["id"], "content": payloads}
            )

    media = ids.mapInPandas(synth, "media_id long, content binary")
    chunks = image_dhash_chunks(media)
    return dhash_near_pairs(chunks, max_hamming=3).orderBy("a", "b")


# --------------------------------------------------------------------------
# Q143: Python UDTF surface — lateral table function vs SQL mirror
# --------------------------------------------------------------------------
@_declare(
    "q143_udtf_chunks",
    r"""
    WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') ts
               FROM documents WHERE doc_id < 100),
    ch AS (
      SELECT doc_id, i idx,
             array_to_string(list_slice(ts, i * 10 + 1,
                             least((i + 1) * 10, len(ts))), ' ') chunk
      FROM t, UNNEST(range(0, CAST(ceil(len(ts) / 10.0) AS INT))) u(i))
    SELECT doc_id, CAST(idx AS INT) idx, chunk,
           CAST(len(regexp_extract_all(chunk, '\S+')) AS INT) n_tok
    FROM ch ORDER BY doc_id, idx
    """,
)
def q143(spark, sf_dir):
    """SURVEY §2.9's third leg: a Python UDTF (user-defined TABLE
    function, Spark 4) invoked as a correlated LATERAL join — one
    input row fans out to N output rows from imperative Python, the
    escape hatch for generators no array expression can write.  The
    function itself re-implements 10-token chunking so the DuckDB
    mirror pins the UDTF execution path (serialization, lateral
    correlation, schema) bit-for-bit against declarative SQL.  Like
    q28 this is an API-surface parity demo: the PRODUCTION chunker is
    the pure-expression functions/text.chunk_documents (q132), and
    the docstring-level rule stands — UDTFs are the slow path, used
    when semantics demand them, never for chunking at 100 TB."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="idx int, chunk string, n_tok int")
    class ChunkDoc:
        def eval(self, text: str):
            if not text:  # NULL/empty doc -> zero rows, like the oracle
                return
            toks = text.split()
            for i in range(0, (len(toks) + 9) // 10):
                seg = toks[10 * i : 10 * (i + 1)]
                yield i, " ".join(seg), len(seg)

    spark.udtf.register("chunk_doc", ChunkDoc)
    load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 100
    ).createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT d.doc_id, c.idx, c.chunk, c.n_tok "
        "FROM _udtf_docs d, LATERAL chunk_doc(d.text) c "
        "ORDER BY d.doc_id, c.idx"
    )


# --------------------------------------------------------------------------
# Q144: per-label embedding-centroid drift vs the corpus centroid
# --------------------------------------------------------------------------
@_declare(
    "q144_centroid_drift",
    """
    WITH dims AS (
      SELECT label, unnest(embedding) v,
             generate_subscripts(embedding, 1) i
      FROM embeddings),
    lc AS (SELECT label, i, AVG(v) m, COUNT(*) n
           FROM dims GROUP BY 1, 2),
    gc AS (SELECT i, SUM(m * n) / SUM(n) g FROM lc GROUP BY 1),
    dot AS (
      SELECT lc.label, MAX(lc.n) n,
             SUM(lc.m * gc.g) d,
             SUM(lc.m * lc.m) mm, SUM(gc.g * gc.g) gg
      FROM lc JOIN gc USING (i) GROUP BY 1)
    SELECT label, CAST(n AS BIGINT) n,
           ROUND(d / (SQRT(mm) * SQRT(gg)), 4) + 0 cos_to_corpus
    FROM dot ORDER BY label
    """,
)
def q144(spark, sf_dir):
    """Embedding-space drift audit: cosine similarity between each
    label's centroid and the corpus centroid — the per-slice version
    of "did this source's embedding distribution move", the signal a
    SemDeDup/IVF pipeline (q109/q42) monitors between index refits.
    One posexplode (linear, 64 rows per vector), one (label, dim)
    hash agg; the corpus centroid derives from the label centroids by
    n-weighted average, so the vectors are scanned ONCE; the cosine
    reduces over a |labels|×64 frame — negligible at any corpus
    size."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", F.posexplode("embedding").alias("i0", "v")
    ).select("label", (F.col("i0") + 1).alias("i"), "v")
    lc = dims.groupBy("label", "i").agg(
        F.avg("v").alias("m"), F.count(F.lit(1)).alias("n")
    )
    gc = lc.groupBy("i").agg(
        (F.sum(F.col("m") * F.col("n")) / F.sum("n")).alias("g")
    )
    dot = (
        lc.join(gc, "i")
        .groupBy("label")
        .agg(
            F.max("n").alias("n"),
            F.sum(F.col("m") * F.col("g")).alias("d"),
            F.sum(F.col("m") * F.col("m")).alias("mm"),
            F.sum(F.col("g") * F.col("g")).alias("gg"),
        )
    )
    return dot.select(
        "label",
        F.col("n").cast("long").alias("n"),
        (
            F.round(
                F.col("d") / (F.sqrt("mm") * F.sqrt("gg")), 4
            )
            + F.lit(0.0)
        ).alias("cos_to_corpus"),
    ).orderBy("label")


# --------------------------------------------------------------------------
# Q145: PageRank over the token co-occurrence graph (unrolled oracle)
# --------------------------------------------------------------------------
_Q145_ITER = """
    p{k} AS (
      SELECT top.t,
             0.15 / MAX(nn.n)
               + 0.85 * COALESCE(SUM(p{j}.pr * e.w / ow.ow), 0) pr
      FROM top CROSS JOIN nn
        LEFT JOIN e ON e.tb = top.t
        LEFT JOIN ow ON ow.ta = e.ta
        LEFT JOIN p{j} ON p{j}.t = e.ta
      GROUP BY 1)"""

_Q145_SQL = (
    r"""
    WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) t
                 FROM documents),
    tf AS (SELECT t, COUNT(*) f FROM tok GROUP BY 1),
    top AS (SELECT t FROM (
              SELECT t, ROW_NUMBER() OVER (ORDER BY f DESC, t) r FROM tf)
            WHERE r <= 50),
    dt AS (SELECT DISTINCT doc_id, t FROM tok JOIN top USING (t)),
    e AS (SELECT a.t ta, b.t tb, COUNT(*) w
          FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.t <> b.t
          GROUP BY 1, 2),
    ow AS (SELECT ta, SUM(w) ow FROM e GROUP BY 1),
    nn AS (SELECT COUNT(*) n FROM top),
    p0 AS (SELECT t, 1.0 / nn.n pr FROM top CROSS JOIN nn),"""
    + ",".join(_Q145_ITER.format(k=k, j=k - 1) for k in (1, 2, 3))
    + """
    SELECT t term, ROUND(pr, 6) + 0 pr FROM p3 ORDER BY term
    """
)


@_declare("q145_token_pagerank", _Q145_SQL)
def q145(spark, sf_dir):
    """Iterative graph computation as a declarative plan: PageRank
    (d = 0.85, 3 synchronous iterations) over the co-occurrence graph
    of the 50 most frequent terms — q108's unrolled-iteration pattern
    applied to a GRAPH algorithm instead of k-means.  Graph build:
    one token explode, the top-50 node set (tiny — broadcast), per-doc
    distinct node incidence, and a within-doc pair join whose fan-out
    is bounded by the node cap squared PER DOC, linear in docs.  Each
    iteration is one edge-key join + hash agg; three iterations = a
    fixed 3-stage DAG Catalyst sees whole, no driver loop state.  The
    DuckDB oracle replays the identical iterations bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tx.tokens(F.col("text"))).alias("t")
    )
    tf = tok.groupBy("t").agg(F.count(F.lit(1)).alias("f"))
    top = tf.orderBy(F.desc("f"), "t").limit(50).select("t")
    dt = tok.join(F.broadcast(top), "t").select("doc_id", "t").distinct()
    a, b = dt.alias("a"), dt.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.t") != F.col("b.t")),
        )
        .groupBy(F.col("a.t").alias("ta"), F.col("b.t").alias("tb"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    ow = e.groupBy("ta").agg(F.sum("w").alias("ow"))
    contrib_base = e.join(ow, "ta")
    nn = top.agg(F.count(F.lit(1)).alias("n"))  # node count, in-plan
    pr = top.crossJoin(F.broadcast(nn)).select(
        "t", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(3):
        contrib = (
            contrib_base.join(
                pr.select(F.col("t").alias("ta"), "pr"), "ta"
            )
            .groupBy("tb")
            .agg(
                F.sum(
                    F.col("pr") * F.col("w") / F.col("ow")
                ).alias("s")
            )
        )
        pr = (
            top.crossJoin(F.broadcast(nn))
            .join(contrib.withColumnRenamed("tb", "t"), "t", "left")
            .select(
                "t",
                (
                    F.lit(0.15) / F.col("n")
                    + 0.85 * F.coalesce("s", F.lit(0.0))
                ).alias("pr"),
            )
        )
    return pr.select(
        F.col("t").alias("term"),
        (F.round("pr", 6) + F.lit(0.0)).alias("pr"),
    ).orderBy("term")


# --------------------------------------------------------------------------
# Q146: native session_window operator vs first-principles islands SQL
# --------------------------------------------------------------------------
@_declare(
    "q146_native_session_window",
    """
    WITH marks AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER w >= 1800
                  THEN 1 ELSE 0 END new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sid AS (
      SELECT user_id,
             SUM(new_s) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) s
      FROM marks),
    sess AS (SELECT user_id, s, COUNT(*) n FROM sid GROUP BY 1, 2)
    SELECT user_id, CAST(COUNT(*) AS BIGINT) n_sessions,
           CAST(SUM(n) AS BIGINT) n_events,
           CAST(MAX(n) AS BIGINT) max_sess_events
    FROM sess GROUP BY user_id ORDER BY user_id
    """,
)
def q146(spark, sf_dir):
    """Spark's NATIVE session_window operator (merge-on-overlap
    implementation) pinned against first-principles gaps-and-islands
    SQL: 30-minute-gap sessions per user, counted and sized.  The
    boundary semantics are part of the pin — session_window's interval
    is [start, last+gap), so an event arriving at EXACTLY gap seconds
    opens a new session, hence the oracle's >= 1800 mark (q100's plain
    > is the other convention; both are defensible, the operator's is
    what ships).  One shuffle on the user key; session merging is
    local to each partition."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy(
        F.session_window("ts", "30 minutes"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        s.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n").cast("long").alias("n_events"),
            F.max("n").cast("long").alias("max_sess_events"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Q147: ANSI-safe try_* semantics (try_divide / try_cast) as a query
# --------------------------------------------------------------------------
@_declare(
    "q147_try_semantics",
    """
    WITH b AS (
      SELECT event_type, value,
             CAST(json_extract(props, '$.k') AS BIGINT) k
      FROM events WHERE value IS NOT NULL)
    SELECT event_type,
      CAST(COUNT(*) AS BIGINT) n,
      CAST(COUNT(*) FILTER (WHERE value / NULLIF(k - 50, 0) IS NULL)
           AS BIGINT) n_div_null,
      ROUND(SUM(value / NULLIF(k - 50, 0)), 2) + 0 sum_div,
      CAST(COUNT(try_cast(CASE WHEN k < 50 THEN CAST(k AS VARCHAR)
                          ELSE event_type END AS DOUBLE))
           AS BIGINT) n_cast_ok,
      ROUND(SUM(try_cast(CASE WHEN k < 50 THEN CAST(k AS VARCHAR)
                         ELSE event_type END AS DOUBLE)), 1) + 0 sum_cast
    FROM b GROUP BY 1 ORDER BY 1
    """,
)
def q147(spark, sf_dir):
    """Spark 4 runs ANSI mode by default: raw division by zero or a
    bad cast ABORTS the job, so robust pipelines spell fallible
    arithmetic with the try_* family.  This query pins both: NULL-on-
    zero division (try_divide, counted and summed) and NULL-on-
    unparseable cast (try_cast over a string column that is numeric
    for half the rows) — against DuckDB, spelled with NULLIF/try_cast
    so the oracle is independent of DuckDB's float-division default
    (which flipped to IEEE inf in 1.1).  The error
    handling is row-local expression logic: no task failures, no
    speculative retries, identical plan shape to the unguarded
    arithmetic."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    b = ev.select(
        "event_type",
        "value",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    td = F.try_divide("value", F.col("k") - 50)
    tc = F.expr(
        "try_cast(case when k < 50 then cast(k as string) "
        "else event_type end as double)"
    )
    return (
        b.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(td.isNull()).alias("n_div_null"),
            (F.round(F.sum(td), 2) + F.lit(0.0)).alias("sum_div"),
            F.count(tc).alias("n_cast_ok"),
            (F.round(F.sum(tc), 1) + F.lit(0.0)).alias("sum_cast"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Q148: hybrid retrieval — reciprocal rank fusion of BM25 + cosine
# --------------------------------------------------------------------------
@_declare(
    "q148_hybrid_rrf",
    r"""
    WITH tk AS (SELECT doc_id, t AS w
                FROM (SELECT doc_id, regexp_extract_all(text, '\S+') ts
                      FROM documents), UNNEST(ts) u(t)),
    dl AS (SELECT doc_id, COUNT(*) dl FROM tk GROUP BY 1),
    stats AS (SELECT COUNT(*) n, AVG(dl) avgdl FROM dl),
    tf AS (SELECT doc_id, w, COUNT(*) tf FROM tk
           WHERE w IN ('spark', 'join', 'window') GROUP BY 1, 2),
    dfreq AS (SELECT w, COUNT(*) df FROM tf GROUP BY 1),
    bm AS (
      SELECT tf.doc_id,
             ROUND(SUM(ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1)
                 * tf.tf * 2.2
                 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))),
                 4) + 0 score
      FROM tf JOIN dfreq USING (w) JOIN dl USING (doc_id)
        CROSS JOIN stats
      GROUP BY 1),
    rb AS (SELECT doc_id, r FROM (
             SELECT doc_id,
                    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) r
             FROM bm) WHERE r <= 200),
    qv AS (SELECT CAST(embedding AS DOUBLE[]) e FROM embeddings
           WHERE vec_id = 0),
    cs AS (
      SELECT c.vec_id doc_id,
             list_inner_product(qv.e, ce.e)
             / sqrt(list_inner_product(qv.e, qv.e)
                    * list_inner_product(ce.e, ce.e)) sim
      FROM (SELECT vec_id FROM embeddings WHERE vec_id <> 0) c
        JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) e
              FROM embeddings) ce USING (vec_id)
        CROSS JOIN qv),
    rc AS (SELECT doc_id, r FROM (
             SELECT doc_id,
                    ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) r
             FROM cs) WHERE r <= 200),
    fused AS (
      SELECT COALESCE(rb.doc_id, rc.doc_id) doc_id,
             COALESCE(1.0 / (60 + rb.r), 0)
               + COALESCE(1.0 / (60 + rc.r), 0) rrf
      FROM rb FULL OUTER JOIN rc ON rb.doc_id = rc.doc_id)
    SELECT doc_id, ROUND(rrf, 6) + 0 rrf
    FROM fused ORDER BY rrf DESC, doc_id LIMIT 20
    """,
)
def q148(spark, sf_dir):
    """Hybrid search the way a RAG retriever runs it: fuse the LEXICAL
    ranking (q137's BM25 list) with the SEMANTIC ranking (cosine to a
    query embedding, q30's brute-force baseline) by Reciprocal Rank
    Fusion, rrf(d) = Σ 1/(60 + rank_list(d)) — rank-based so the two
    incomparable score scales never need calibration.  Docs absent
    from one list (no query term / the query vector itself) contribute
    only their other rank via the FULL OUTER join.  Each ranking is
    bounded to its top-200 by TakeOrderedAndProject FIRST, so the
    unpartitioned rank window sees 200 rows, never the corpus; at
    scale the cosine side swaps to the q41/q42 ANN candidates, the
    fusion is unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )

    bm = _bm25_scores(docs, ["spark", "join", "window"])
    # TakeOrdered bounds each list to its top-200 BEFORE any window:
    # the global rank of a top-K row equals its rank within the top-K
    # frame, so the unpartitioned row_number only ever sees 200 rows —
    # never the corpus (rank-fusion standard practice: fuse top-K
    # lists, not full rankings)
    topb = bm.orderBy(F.desc("score"), "doc_id").limit(200)
    rb = topb.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), "doc_id"))
        .alias("rb"),
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("e").alias("qe")
    )
    cs = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            (
                dot(F.col("qe"), F.col("e"))
                / F.sqrt(
                    dot(F.col("qe"), F.col("qe"))
                    * dot(F.col("e"), F.col("e"))
                )
            ).alias("sim"),
        )
    )
    topc = cs.orderBy(F.desc("sim"), "doc_id").limit(200)
    rc = topc.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("sim"), "doc_id"))
        .alias("rc"),
    )
    fused = (
        rb.join(rc, "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                F.coalesce(1.0 / (60 + F.col("rb")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("rc")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    return (
        fused.select(
            "doc_id", (F.round("rrf", 6) + F.lit(0.0)).alias("rrf")
        )
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q149–Q150: survivor-policy comparison, cumulative distinct users
# --------------------------------------------------------------------------
@_declare(
    "q149_survivor_policies",
    r"""
    WITH h AS (SELECT doc_id,
                      md5(array_to_string(list_slice(
                        regexp_extract_all(text, '\S+'), 1, 3), ' ')) hh,
                      n_chars,
                      length(text) - length(replace(text, ' ', '')) + 1 nw
               FROM documents),
    g AS (SELECT hh FROM h GROUP BY hh HAVING COUNT(*) > 1),
    d AS (SELECT h.* FROM h JOIN g USING (hh)),
    pol AS (
      SELECT hh,
             MIN(doc_id) keep_first,
             arg_max(doc_id, n_chars * 1000000 - doc_id) keep_longest,
             arg_max(doc_id, nw * 1000000 - doc_id) keep_wordiest,
             CAST(COUNT(*) AS BIGINT) n_members
      FROM d GROUP BY hh)
    SELECT keep_first, keep_longest, keep_wordiest, n_members,
           (keep_first <> keep_longest
            OR keep_first <> keep_wordiest) policies_disagree
    FROM pol ORDER BY keep_first
    """,
)
def q149(spark, sf_dir):
    """Survivor-selection POLICY surface for dedup clusters: candidate
    groups (here blocked on a shared opening-trigram fingerprint — the
    key makes members DIFFER in content, so the policies can actually
    disagree; exact-hash groups would make all three collapse to
    keep-first vacuously) resolved under keep-first (q35's rule),
    keep-longest, and keep-most-words, with a disagreement flag — the
    audit a data team runs before switching policies, since the choice
    silently changes the training corpus.  Policies are expressed as
    arg_max over a deterministic composite (metric·1e6 − doc_id, so
    ties break toward the LOWEST id on both engines); all three ride
    ONE hash agg over the groups."""
    docs = load_table(spark, sf_dir, "documents")
    nw = (
        F.length("text")
        - F.length(F.regexp_replace("text", " ", ""))
        + 1
    )
    h = docs.select(
        "doc_id",
        F.md5(
            F.array_join(F.slice(tx.tokens(F.col("text")), 1, 3), " ")
        ).alias("hh"),
        "n_chars",
        nw.alias("nw"),
    )
    g = (
        h.groupBy("hh")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .select("hh")
    )
    d = h.join(g, "hh")
    pol = d.groupBy("hh").agg(
        F.min("doc_id").alias("keep_first"),
        F.max_by(
            "doc_id", F.col("n_chars") * 1000000 - F.col("doc_id")
        ).alias("keep_longest"),
        F.max_by(
            "doc_id", F.col("nw") * 1000000 - F.col("doc_id")
        ).alias("keep_wordiest"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return pol.select(
        "keep_first",
        "keep_longest",
        "keep_wordiest",
        "n_members",
        (
            (F.col("keep_first") != F.col("keep_longest"))
            | (F.col("keep_first") != F.col("keep_wordiest"))
        ).alias("policies_disagree"),
    ).orderBy("keep_first")


@_declare(
    "q150_cumulative_distinct_users",
    """
    WITH fd AS (SELECT user_id, MIN(date_trunc('day', ts)) d
                FROM events GROUP BY 1),
    per_day AS (SELECT d, COUNT(*) newu FROM fd GROUP BY 1),
    days AS (SELECT DISTINCT date_trunc('day', ts) d FROM events)
    SELECT days.d,
           CAST(COALESCE(per_day.newu, 0) AS BIGINT) new_users,
           CAST(SUM(COALESCE(per_day.newu, 0))
                OVER (ORDER BY days.d) AS BIGINT) cum_users
    FROM days LEFT JOIN per_day ON days.d = per_day.d
    ORDER BY days.d
    """,
)
def q150(spark, sf_dir):
    """Cumulative distinct users per day — the growth-curve metric —
    WITHOUT a running COUNT(DISTINCT) window (quadratic state): each
    user collapses to their FIRST-SEEN day (one hash agg), daily
    new-user counts follow, and the cumulative sum is a window over
    the tiny |days| frame.  The identity Σ first-seen = |distinct so
    far| is what makes incremental/streaming maintenance of this
    metric cheap too (q69's EWMA state pattern)."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    fd = ev.groupBy("user_id").agg(F.min(day).alias("d"))
    per_day = fd.groupBy("d").agg(F.count(F.lit(1)).alias("newu"))
    days = ev.select(day.alias("d")).distinct()
    w = Window.orderBy("d")
    return (
        days.join(per_day, "d", "left")
        .select("d", F.coalesce("newu", F.lit(0)).alias("new_users"))
        .select(
            "d",
            F.col("new_users").cast("long").alias("new_users"),
            F.sum("new_users").over(w).cast("long").alias("cum_users"),
        )
        .orderBy("d")
    )


# --------------------------------------------------------------------------
# Q151–Q152: SCD Type-2 dimension build + point-in-time (PIT) join
# --------------------------------------------------------------------------
@_declare(
    "q151_scd2_intervals",
    """
    WITH s AS (SELECT user_id, ts, event_id, value FROM events
               WHERE event_type = 'signup'),
    v AS (
      SELECT user_id, ts valid_from,
             LEAD(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) valid_to,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) ver,
             ROUND(value, 4) + 0 profile_v
      FROM s)
    SELECT user_id, CAST(ver AS BIGINT) ver,
           valid_from, valid_to, profile_v
    FROM v ORDER BY user_id, ver
    """,
)
def q151(spark, sf_dir):
    """Slowly-changing-dimension Type 2 build: each user's 'signup'
    change events become versioned validity intervals
    [valid_from, valid_to) via lead over the user key (open interval
    = NULL valid_to).  One shuffle on the dimension key; this is the
    batch replay of what a MERGE-based SCD2 apply maintains
    incrementally (operators/merge.py is the apply half)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "signup"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            F.row_number().over(w).cast("long").alias("ver"),
            (F.round("value", 4) + F.lit(0.0)).alias("profile_v"),
        )
        .select(
            "user_id", "ver", "valid_from", "valid_to", "profile_v"
        )
        .orderBy("user_id", "ver")
    )


@_declare(
    "q152_point_in_time_join",
    """
    WITH s AS (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'signup'),
    v AS (
      SELECT user_id, ts valid_from,
             LEAD(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) valid_to,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) ver
      FROM s),
    p AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, CAST(v.ver AS BIGINT) ver
    FROM p JOIN v ON p.user_id = v.user_id
                 AND p.ts >= v.valid_from
                 AND (v.valid_to IS NULL OR p.ts < v.valid_to)
    ORDER BY p.event_id
    """,
)
def q152(spark, sf_dir):
    """Point-in-time correct join — the feature-store discipline that
    prevents label leakage in training data: each purchase sees the
    profile version that was valid AT ITS TIMESTAMP, never a later
    one.  The interval predicate rides the user-key equi-join (the
    range condition is a post-join filter on co-partitioned rows), so
    there is no non-equi shuffle; at most one interval matches per
    fact by construction.  Facts before a user's first version drop
    out — exactly the rows that would otherwise train on future
    information."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    v = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            "user_id",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            F.row_number().over(w).cast("long").alias("ver"),
        )
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("pts")
    )
    return (
        p.join(v, "user_id")
        .filter(
            (F.col("pts") >= F.col("valid_from"))
            & (
                F.col("valid_to").isNull()
                | (F.col("pts") < F.col("valid_to"))
            )
        )
        .select("event_id", "user_id", "ver")
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# Q153: hierarchical percent-of-parent revenue shares
# --------------------------------------------------------------------------
@_declare(
    "q153_hierarchical_shares",
    """
    WITH rev AS (
      SELECT r.r_name region, n.n_name nation,
             SUM(o.o_totalprice) rev
      FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2)
    SELECT region, nation, ROUND(rev, 2) + 0 rev,
           ROUND(rev / SUM(rev) OVER (PARTITION BY region) * 100,
                 4) + 0 pct_of_region,
           ROUND(SUM(rev) OVER (PARTITION BY region)
                 / SUM(rev) OVER () * 100, 4) + 0 region_pct_of_total
    FROM rev ORDER BY region, nation
    """,
)
def q153(spark, sf_dir):
    """Hierarchical percent-of-parent: each nation's share of its
    region and each region's share of the total, in one pass — the
    drill-down ratio every rollup dashboard needs.  nation/region
    broadcast (tiny dims, q22's shape); customer–orders is a plain
    key join (customer grows with the fact — broadcasting it would
    break at scale).  Both share windows run over the AGGREGATED
    |nations| frame, so the unpartitioned total window is 25 rows,
    not the fact table."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
        )
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    wr = Window.partitionBy("region")
    wt = Window.partitionBy()
    return rev.select(
        "region",
        "nation",
        (F.round("rev", 2) + F.lit(0.0)).alias("rev"),
        (
            F.round(F.col("rev") / F.sum("rev").over(wr) * 100, 4)
            + F.lit(0.0)
        ).alias("pct_of_region"),
        (
            F.round(
                F.sum("rev").over(wr) / F.sum("rev").over(wt) * 100, 4
            )
            + F.lit(0.0)
        ).alias("region_pct_of_total"),
    ).orderBy("region", "nation")


# --------------------------------------------------------------------------
# Q154: REAL video frame sampling (PVM container) — arithmetic oracle
# --------------------------------------------------------------------------
@_declare(
    "q154_video_frame_sampling",
    """
    WITH b AS (SELECT doc_id FROM documents WHERE doc_id < 50),
    fr AS (SELECT unnest([0, 2, 4, 6]) f),
    px AS (SELECT b.doc_id, fr.f,
                  ((b.doc_id * 7 + fr.f * 13 + r.r * 3 + c.c * 5)
                   % 256) m
           FROM b, fr,
                (SELECT unnest(range(0, 16)) r) r,
                (SELECT unnest(range(0, 32)) c) c)
    SELECT doc_id media_id, CAST(f AS INT) frame_idx,
           CAST(f * 250 AS BIGINT) frame_ms,
           CAST(32 AS INT) width, CAST(16 AS INT) height,
           ROUND(AVG(0.299 * m + 0.587 * ((m + 11) % 256)
                     + 0.114 * ((m + 22) % 256)), 4) + 0 luma_mean
    FROM px GROUP BY doc_id, f ORDER BY media_id, frame_idx
    """,
)
def q154(spark, sf_dir):
    """REAL video frame sampling, end-to-end: 50 deterministic PVM
    videos (8 closed-form PPM frames each, 4 fps — frame f's pixels
    follow (base·7 + f·13 + r·3 + c·5 + k·11) mod 256), sampled every
    500 ms by operators/multimodal.sample_frames_real — which scans
    only the container's length-prefix index and DECODES ONLY the 4
    sampled frames (0,2,4,6) via the real netpbm parser.  The DuckDB
    oracle re-derives each sampled frame's luma mean arithmetically:
    the hash match proves container parse + seek + per-frame decode +
    feature, the full video path with zero stubs.  Map-only."""
    from ..operators.multimodal import sample_frames_real

    bases = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 50
    )

    def synth(batches):
        import numpy as _np
        import pandas as _pd

        from django_datastream_spark.operators.media_codecs import (
            encode_pvm,
        )

        h, w = 16, 32
        r = _np.arange(h).reshape(h, 1, 1)
        c = _np.arange(w).reshape(1, w, 1)
        k = _np.arange(3).reshape(1, 1, 3)
        grid = r * 3 + c * 5 + k * 11
        for pdf in batches:
            payloads = [
                encode_pvm(
                    [
                        (int(did) * 7 + f * 13 + grid) % 256
                        for f in range(8)
                    ],
                    fps=4,
                )
                for did in pdf["doc_id"]
            ]
            yield _pd.DataFrame(
                {"media_id": pdf["doc_id"], "content": payloads}
            )

    media = bases.mapInPandas(synth, "media_id long, content binary")
    frames = sample_frames_real(media, every_ms=500, max_frames=8)
    return frames.select(
        "media_id",
        "frame_idx",
        "frame_ms",
        "width",
        "height",
        (F.round("luma_mean", 4) + F.lit(0.0)).alias("luma_mean"),
    ).orderBy("media_id", "frame_idx")


# --------------------------------------------------------------------------
# Q155: Structured Streaming INSIDE the correctness gate
# --------------------------------------------------------------------------
@_declare(
    "q155_streaming_downsample_gate",
    """
    WITH mx AS (SELECT MAX(epoch(ts)) m FROM events),
    b AS (SELECT event_type,
                 CAST(floor(epoch(ts) / 10) * 10 AS BIGINT) ws
          FROM events),
    agg AS (SELECT event_type, ws, COUNT(*) n FROM b GROUP BY 1, 2)
    SELECT ws, event_type, CAST(n AS BIGINT) n
    FROM agg CROSS JOIN mx
    WHERE ws + 10 <= mx.m - 1
    ORDER BY ws, event_type
    """,
)
def q155(spark, sf_dir):
    """Structured Streaming EXECUTION inside the driver-checked gate:
    the events table replays through a real file-stream source
    (availableNow), a 1-second watermark, and an append-mode 10-second
    tumbling count — and the emitted result must hash-match the batch
    SQL restricted to watermark-closed buckets (bucket_end <=
    max(ts) − delay).  Stream–batch equivalence is the Structured
    Streaming contract; this query makes the driver verify it, not
    just our own tests.  NOTE: the builder necessarily RUNS the
    bounded streaming job (the one by-name exemption in
    test_declaring_queries_runs_no_jobs); temp source/checkpoint dirs
    are fresh per call, so replays are full deterministic
    recomputes."""
    # shared replay setup (one wiped work area per sf_dir; the
    # TIMESTAMP(NANOS) shim applied) — see _streaming_events below
    st, out, cp = _streaming_events(spark, sf_dir, "q155")
    agg = (
        st.withWatermark("ts", "1 second")
        .groupBy(F.window("ts", "10 seconds"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    _run_bounded(agg, out, cp, "q155")
    res = spark.read.parquet(out)
    return res.select(
        F.unix_timestamp(F.col("window.start")).alias("ws"),
        "event_type",
        F.col("n").cast("long").alias("n"),
    ).orderBy("ws", "event_type")


# --------------------------------------------------------------------------
# Q156: nested tag containment (P4's "nested containment" note) — the
# find_streams matching rule, oracle-pinned beyond flat dotted paths.
# --------------------------------------------------------------------------
@_declare(
    "q156_nested_tag_containment",
    """
    WITH s AS (SELECT DISTINCT user_id, event_type FROM events),
    t AS (SELECT user_id, event_type,
                 json_object('active', user_id % 2 = 0,
                             'source', json_object('shard', user_id % 5,
                                                   'type', event_type)) tags
          FROM s)
    SELECT user_id, event_type FROM t
    WHERE json_extract(tags, '$.source.shard') = to_json(3)
      AND json_extract(tags, '$.source.type') = to_json('purchase')
      AND json_extract(tags, '$.active') = to_json(true)
    ORDER BY user_id, event_type
    """,
)
def q156(spark, sf_dir):
    """Nested tag containment through the ENGINE's matching rule
    (api.tag_match_condition — the exact predicate find_streams and
    ensure_stream filter with; reference: datastream tag queries are
    MongoDB-style sub-document containment, SURVEY P4). Streams are
    synthesized per (user_id, event_type) with NESTED tags
    {"active": bool, "source": {"shard": int, "type": str}}; the query
    sub-document {"source": {"shard": 3, "type": "purchase"},
    "active": true} must match iff every flattened leaf matches, while
    extra stored tags never block. Every third stream is written as a
    LEGACY row (tags_flat = NULL) so the JSON-path fallback branch is
    oracle-pinned alongside the canonical-map branch. Scale shape: the
    match is one boolean column over the streams scan — no collect, no
    join."""
    from ..api import tag_match_condition

    ev = load_table(spark, sf_dir, "events")
    s = ev.select("user_id", "event_type").distinct()
    active = F.col("user_id") % 2 == 0
    shard = F.col("user_id") % 5
    tags_json = F.to_json(
        F.struct(
            active.alias("active"),
            F.struct(
                shard.alias("shard"), F.col("event_type").alias("type")
            ).alias("source"),
        )
    )
    # canonical-JSON flattened map, exactly as ensure_stream stores it
    # (_canon_tag: bools lowercase, strings json-quoted, ints bare)
    tags_flat = F.create_map(
        F.lit("active"),
        F.when(active, F.lit("true")).otherwise(F.lit("false")),
        F.lit("source.shard"),
        shard.cast("string"),
        F.lit("source.type"),
        F.concat(F.lit('"'), F.col("event_type"), F.lit('"')),
    )
    t = s.withColumn("tags", tags_json).withColumn(
        "tags_flat",
        F.when(
            F.col("user_id") % 3 == 0,
            F.lit(None).cast("map<string,string>"),
        ).otherwise(tags_flat),
    )
    return (
        t.filter(
            tag_match_condition(
                {"source": {"shard": 3, "type": "purchase"}, "active": True}
            )
        )
        .select("user_id", "event_type")
        .orderBy("user_id", "event_type")
    )


# --------------------------------------------------------------------------
# Q157: interval range-overlap join (§2.6) — in-flight shipment pairs.
# --------------------------------------------------------------------------
@_declare(
    "q157_overlapping_shipments",
    """
    WITH li AS (SELECT l_suppkey, l_orderkey, l_linenumber,
                       CAST(l_shipdate AS DATE) AS ship_d,
                       CAST(l_shipdate AS DATE)
                         + INTERVAL (2 + l_linenumber % 13) DAY AS until_d
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate <  TIMESTAMP '1996-04-01')
    SELECT a.l_suppkey AS suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_overlap_pairs
    FROM li a JOIN li b
      ON a.l_suppkey = b.l_suppkey
     AND (a.l_orderkey < b.l_orderkey OR
          (a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber))
     AND a.ship_d < b.until_d AND b.ship_d < a.until_d
    GROUP BY 1 ORDER BY n_overlap_pairs DESC, suppkey LIMIT 10
    """,
)
def q157(spark, sf_dir):
    """Per-supplier concurrently-in-flight shipment pairs via
    ``timeseries.range_overlap_join`` — the interval range join Spark
    has no native operator for. The oracle is the textbook NON-EQUI
    self-join (fine for DuckDB at gate scale, quadratic per key at
    100 TB); the engine side generates candidates from ONE hash
    equi-join on (suppkey, day-bucket) with interval-bounded fan-out
    and emits each pair exactly once via the stab-bucket rule — no
    non-equi shuffle, no per-key cross join, no dedup pass. In-flight
    window = [ship, ship + 2 + linenumber%13 days) (the trimmed
    testdata lineitem carries no l_receiptdate; the window is
    deterministic from stored columns so both engines derive it
    identically), one quarter of ship-dates keeps the oracle's
    quadratic side honest-but-cheap."""
    from ..operators.timeseries import range_overlap_join

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .withColumn("ship_d", F.col("l_shipdate").cast("date"))
        .withColumn(
            "until_d",
            F.date_add(
                F.col("ship_d"),
                (F.lit(2) + F.col("l_linenumber") % 13).cast("int"),
            ),
        )
    )
    left = li.select(
        "l_suppkey",
        F.col("l_orderkey").alias("a_ok"),
        F.col("l_linenumber").alias("a_ln"),
        F.col("ship_d").alias("a_ship"),
        F.col("until_d").alias("a_until"),
    )
    right = li.select(
        "l_suppkey",
        F.col("l_orderkey").alias("b_ok"),
        F.col("l_linenumber").alias("b_ln"),
        F.col("ship_d").alias("b_ship"),
        F.col("until_d").alias("b_until"),
    )
    pairs = range_overlap_join(
        left,
        right,
        keys=["l_suppkey"],
        l_start="a_ship",
        l_end="a_until",
        r_start="b_ship",
        r_end="b_until",
        bucket_days=14,
    ).filter(
        (F.col("a_ok") < F.col("b_ok"))
        | ((F.col("a_ok") == F.col("b_ok")) & (F.col("a_ln") < F.col("b_ln")))
    )
    return (
        pairs.groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(F.count(F.lit(1)).alias("n_overlap_pairs"))
        .orderBy(F.desc("n_overlap_pairs"), "suppkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Q158/Q159: REAL compressed-format (PNG) decode, arithmetically verified
# --------------------------------------------------------------------------
@_declare(
    "q158_png_channel_stats",
    """
    WITH px AS (
      SELECT d.doc_id,
             ((d.doc_id * 11 + r.r * 5 + c.c * 7) % 256) pr,
             ((d.doc_id * 11 + r.r * 5 + c.c * 7 + 13) % 256) pg,
             ((d.doc_id * 11 + r.r * 5 + c.c * 7 + 26) % 256) pb
      FROM (SELECT doc_id FROM documents WHERE doc_id < 150) d
      CROSS JOIN (SELECT unnest(range(0, 12)) r) r
      CROSS JOIN (SELECT unnest(range(0, 24)) c) c),
    lm AS (SELECT doc_id, pr, pg, pb,
                  0.299 * pr + 0.587 * pg + 0.114 * pb luma
           FROM px)
    SELECT doc_id media_id,
           CAST(24 AS INT) width, CAST(12 AS INT) height,
           ROUND(AVG(pr * 1.0), 4) mean_r,
           ROUND(AVG(pg * 1.0), 4) mean_g,
           ROUND(AVG(pb * 1.0), 4) mean_b,
           ROUND(AVG(luma), 4) luma_mean,
           ROUND(SQRT(AVG(luma * luma) - AVG(luma) * AVG(luma)), 4)
             luma_std
    FROM lm GROUP BY doc_id ORDER BY doc_id
    """,
)
def q158(spark, sf_dir):
    """REAL COMPRESSED-format decode, arithmetically verified: each
    document gets a deterministic 24x12 RGB image DEFLATE-compressed
    into a real PNG (media_codecs.encode_png) with scanline filter
    doc_id % 5 — so all five filter types (None/Sub/Up/Average/Paeth)
    are present in the corpus — then decoded by the genuine PNG path
    (CRC-checked chunk walk, zlib inflate, per-filter unfilter) via
    extract_png_features.  The DuckDB oracle re-derives the channel
    and luma statistics from the closed-form pixels, so a hash match
    proves the whole bytes->inflate->unfilter->feature pipeline.
    Unlike q116 (uncompressed P6), a decoder bug in ANY filter branch
    or in the DEFLATE framing shifts a mean and breaks the hash.
    Shuffle-free: synth and decode are map-only stages."""
    from ..operators.multimodal import extract_png_features

    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 150
    )

    def synth(batches):
        import numpy as _np
        import pandas as _pd

        from django_datastream_spark.operators.media_codecs import (
            encode_png,
        )

        h, w = 12, 24
        r = _np.arange(h).reshape(h, 1, 1)
        c = _np.arange(w).reshape(1, w, 1)
        k = _np.arange(3).reshape(1, 1, 3)
        base = r * 5 + c * 7 + k * 13
        for pdf in batches:
            payloads = [
                encode_png((int(did) * 11 + base) % 256, int(did) % 5)
                for did in pdf["doc_id"]
            ]
            yield _pd.DataFrame(
                {"media_id": pdf["doc_id"], "content": payloads}
            )

    media = docs.mapInPandas(synth, "media_id long, content binary")
    feats = extract_png_features(media)
    return feats.select(
        "media_id", "width", "height",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
        F.round("luma_mean", 4).alias("luma_mean"),
        F.round("luma_std", 4).alias("luma_std"),
    ).orderBy("media_id")


@_declare(
    "q159_png_transcode_gray",
    """
    WITH px AS (
      SELECT d.doc_id,
             ((d.doc_id * 3 + r.r * 2 + c.c) % 256) * 1.0 g
      FROM (SELECT doc_id FROM documents WHERE doc_id < 120) d
      CROSS JOIN (SELECT unnest(range(0, 10)) r) r
      CROSS JOIN (SELECT unnest(range(0, 20)) c) c)
    SELECT doc_id media_id,
           CAST(20 AS INT) width, CAST(10 AS INT) height,
           ROUND(AVG(g), 4) mean_r,
           ROUND(AVG(g), 4) luma_mean,
           ROUND(SQRT(AVG(g * g) - AVG(g) * AVG(g)), 4) luma_std
    FROM px GROUP BY doc_id ORDER BY doc_id
    """,
)
def q159(spark, sf_dir):
    """PNG->PPM transcode over the GRAYSCALE decode branch: each doc
    gets a 20x10 single-channel (color type 0) PNG with pixel
    (doc_id*3 + r*2 + c) % 256 and filter doc_id % 5; the engine
    transcodes it to P6 through the real decode (gray replicated to
    RGB, BT.601 luma of replicated gray == the gray value exactly)
    and the PPM feature extractor — so the oracle's closed form pins
    grayscale parsing, the transcode normalization, AND the P6
    re-encode in one hash.  Feature schema kept to the columns the
    gray identity makes exact (mean_r == luma_mean == mean gray).
    Map-only end to end."""
    from ..operators.multimodal import (
        extract_ppm_features,
        transcode_png_to_ppm,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 120
    )

    def synth(batches):
        import numpy as _np
        import pandas as _pd

        from django_datastream_spark.operators.media_codecs import (
            encode_png,
        )

        h, w = 10, 20
        r = _np.arange(h).reshape(h, 1)
        c = _np.arange(w).reshape(1, w)
        base = r * 2 + c
        for pdf in batches:
            payloads = [
                encode_png((int(did) * 3 + base) % 256, int(did) % 5)
                for did in pdf["doc_id"]
            ]
            yield _pd.DataFrame(
                {"media_id": pdf["doc_id"], "content": payloads}
            )

    media = docs.mapInPandas(synth, "media_id long, content binary")
    ppm = transcode_png_to_ppm(media).select("media_id", "content")
    feats = extract_ppm_features(ppm)
    return feats.select(
        "media_id", "width", "height",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("luma_mean", 4).alias("luma_mean"),
        F.round("luma_std", 4).alias("luma_std"),
    ).orderBy("media_id")


# --------------------------------------------------------------------------
# Q160/Q161: stream-stream join + streaming dedup inside the gate
# --------------------------------------------------------------------------
def _streaming_events(spark, sf_dir, key, n_links=1):
    """Shared q155-style bounded replay setup: a fresh work area with
    ``n_links`` symlinks to the events parquet as a file-stream source
    (one availableNow batch — links stay under maxFilesPerTrigger),
    the TIMESTAMP(NANOS) shim applied. Returns (stream_df, out, cp)."""
    import hashlib as _hl
    import os as _os
    import shutil as _sh
    import tempfile as _tmp

    from ..sources.testdata import _SCHEMA_CACHE

    load_table(spark, sf_dir, "events")  # prime the schema cache
    schema, ns_cols = _SCHEMA_CACHE[_os.path.join(sf_dir, "events.parquet")]
    base = _os.path.join(
        _tmp.gettempdir(),
        f"{key}_" + _hl.md5(sf_dir.encode()).hexdigest()[:10],
    )
    _sh.rmtree(base, ignore_errors=True)
    src = _os.path.join(base, "src")
    _os.makedirs(src)
    for i in range(n_links):
        _os.symlink(
            _os.path.join(sf_dir, "events.parquet"),
            _os.path.join(src, f"events{i}.parquet"),
        )
    st = spark.readStream.schema(schema).parquet(src)
    for c in ns_cols:
        st = st.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    st = st.withColumn("ts", F.col("ts").cast("timestamp"))
    return st, _os.path.join(base, "out"), _os.path.join(base, "cp")


def _run_bounded(stream_df, out, cp, key, state_partitions=4, provider=None):
    """Run an availableNow replay to parquet.  ``state_partitions``
    scopes spark.sql.shuffle.partitions around the stream start: a
    streaming query's STATE STORE count is fixed from that conf at
    first start, and each partition pays a per-batch snapshot/commit
    — at gate scale (1e5 rows) the stores cost more in commit overhead
    than the data (measured: q160 18.6 s -> 10.6 s going 32 -> 4, and
    q155 13.2 s -> 2.0 s going a bare session's 200 -> 8; r12's
    within-session interleaved A/B then measured 4 beating 8 on every
    gate — q155 2.23->1.91, q160 4.51->3.50, q161 2.00->1.84,
    q162 2.69->2.39 mins — and 2 flat vs 4, so 4 is the DEFAULT for
    every gate replay; a cold driver session must land these in
    single-digit seconds).  A 100 TB deployment sizes it UP
    with keyspace volume instead; it is the knob, not a constant.
    ``provider="rocksdb"`` selects the RocksDB state store (the
    at-scale option; see session.streaming_state for the measured
    trade-off).  Confs restore after termination (batch queries in the
    shared bench session read them at plan time, so a scoped
    set-restore around a blocking stream is safe)."""
    from ..session import streaming_state

    spark = stream_df.sparkSession
    with streaming_state(
        spark, provider=provider, state_partitions=state_partitions
    ):
        q = (
            stream_df.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError(f"{key} streaming replay exceeded 600 s")


@_declare(
    "q160_stream_stream_join",
    """
    WITH v AS (SELECT event_id vid, user_id, ts
               FROM events
               WHERE event_type = 'view'
                 AND ts < TIMESTAMP '2024-01-08'),
    p AS (SELECT event_id pid, user_id, ts
          FROM events
          WHERE event_type = 'purchase'
            AND ts < TIMESTAMP '2024-01-08')
    SELECT v.user_id,
           COUNT(*) n_pairs,
           CAST(MIN(floor(epoch(p.ts)) - floor(epoch(v.ts))) AS BIGINT)
             min_gap_s,
           CAST(MAX(floor(epoch(p.ts)) - floor(epoch(v.ts))) AS BIGINT)
             max_gap_s
    FROM v JOIN p
      ON p.user_id = v.user_id
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 30 MINUTE
    GROUP BY 1 ORDER BY 1
    """,
)
def q160(spark, sf_dir):
    """STREAM-STREAM interval join executed inside the gate: the events
    replay feeds two watermarked branches of one file stream (views,
    purchases); Spark's stateful symmetric hash join matches each view
    to purchases by the same user within [ts, ts+30min], append-mode
    to parquet, and the emitted pairs — batch-aggregated per user —
    must hash-match DuckDB's plain interval join.  The watermark +
    time-range condition is what lets the join BOUND its state at
    100 TB (each side's rows are evictable once the other side's
    watermark passes ts+30min — without it a stream-stream join
    buffers forever); the single-batch availableNow replay makes the
    emitted set deterministic and exactly the batch join.  Like q155,
    the builder necessarily RUNS the bounded streaming job (by-name
    exemption in test_declaring_queries_runs_no_jobs)."""
    st, out, cp = _streaming_events(spark, sf_dir, "q160")
    # one-week slice: the gate needs the SEMANTICS pinned, not a month
    # of state churn; the filter pushes into the streaming parquet scan
    st = st.filter(F.col("ts") < F.lit("2024-01-08").cast("timestamp"))
    # STAB-BUCKET co-key (streaming form of range_overlap_join's rule):
    # keying the symmetric hash join on user_id alone makes every probe
    # scan ALL of that user's buffered rows — O(views x purchases) per
    # user per batch (measured 26 s at sf0.1).  Adding a 30-minute
    # bucket to the equi-key bounds each probe to one bucket's rows:
    # a purchase lives in exactly one bucket; its candidate views sit
    # in that bucket or the previous one, so views are exploded into
    # [b, b+1] and each true pair matches on EXACTLY one bucket value
    # (no dedup pass).  Same join, ~10x faster, and the state-probe
    # cost is bucket-local — the property that survives 100x key skew.
    bucket = lambda c: (F.unix_timestamp(c) / F.lit(1800)).cast("long")  # noqa: E731
    views = (
        st.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("vid"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 second")
        .withColumn(
            "v_bkt",
            F.explode(F.array(bucket("v_ts"), bucket("v_ts") + 1)),
        )
    )
    purchases = (
        st.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("pid"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 second")
        .withColumn("p_bkt", bucket("p_ts"))
    )
    pairs = views.join(
        purchases,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_bkt") == F.col("p_bkt"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    )
    _run_bounded(pairs, out, cp, "q160", state_partitions=4)
    res = spark.read.parquet(out)
    gap = F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts")
    return (
        res.groupBy(F.col("v_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min(gap).cast("long").alias("min_gap_s"),
            F.max(gap).cast("long").alias("max_gap_s"),
        )
        .orderBy("user_id")
    )


@_declare(
    "q161_streaming_dedup",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) n_unique
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def q161(spark, sf_dir):
    """STREAMING EXACT DEDUP inside the gate: the events file is
    replayed TWICE through one file stream (two symlinks — a doubled
    source, the at-least-once delivery every real ingest bus exhibits)
    and ``dropDuplicatesWithinWatermark`` on event_id collapses the
    duplicates in state before an append-mode parquet sink; per-type
    unique counts must hash-match DuckDB's COUNT(DISTINCT) over the
    SINGLE copy.  A dedup that leaks duplicates doubles every count;
    one that drops non-duplicates undershoots — either breaks the
    hash.  WithinWatermark is the 100 TB form: state holds only the
    watermark horizon, not every key ever seen (plain dropDuplicates
    state grows unboundedly on an infinite stream).  Builder runs the
    bounded job, same exemption as q155/q160."""
    st, out, cp = _streaming_events(spark, sf_dir, "q161", n_links=2)
    deduped = (
        st.withWatermark("ts", "1 minute")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type")
    )
    _run_bounded(deduped, out, cp, "q161")
    res = spark.read.parquet(out)
    # plain COUNT of emitted rows, NOT count_distinct: the oracle is
    # COUNT(DISTINCT) over the single copy, so a dedup that LEAKS
    # duplicates doubles this count and breaks the hash — a
    # count_distinct here would re-collapse the leak and make that
    # half of the check vacuous
    return (
        res.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_unique"))
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Q162: arbitrary stateful processing across REAL micro-batch boundaries
# --------------------------------------------------------------------------
@_declare(
    "q162_stateful_running_totals",
    """
    SELECT user_id, event_id,
           CAST(ROW_NUMBER() OVER w AS BIGINT) seq_no,
           ROUND(SUM(value) OVER w, 4) running_value
    FROM events
    WHERE user_id < 20 AND ts < TIMESTAMP '2024-01-15'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING)
    ORDER BY user_id, seq_no
    """,
)
def q162(spark, sf_dir):
    """ARBITRARY STATEFUL streaming across real micro-batch boundaries:
    per-user running (seq_no, Σvalue) via applyInPandasWithState
    (streaming/stateful.running_user_totals), replayed through TWO
    time-split source files with maxFilesPerTrigger=1 — so the engine
    runs two micro-batches and the GroupState handoff between them is
    load-bearing: batch 2's rows continue batch 1's counts, and the
    emitted rows must hash-match batch SQL's running window over the
    union.  A state store that loses, duplicates, or re-orders the
    carried (n, total) breaks seq_no or running_value for every row of
    batch 2.  File order is pinned by explicit mtimes (the file source
    sorts by modification time); the split is BY TIME so cross-batch
    ordering matches the oracle's window order.  Builder runs the
    bounded job (same exemption as q155/q160/q161) plus the two
    split-file writes."""
    import os as _os
    import shutil as _sh

    from ..streaming.stateful import running_user_totals

    st, out, cp = _streaming_events(spark, sf_dir, "q162", n_links=0)
    src = _os.path.join(_os.path.dirname(out), "src")
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            (F.col("user_id") < 20)
            & (F.col("ts") < F.lit("2024-01-15").cast("timestamp"))
        )
        .select("user_id", "event_id", "ts", "value")
    )
    cut = F.lit("2024-01-08").cast("timestamp")
    for i, part in enumerate(
        (ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut))
    ):
        tmp = _os.path.join(_os.path.dirname(out), f"split{i}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        fn = next(
            f for f in _os.listdir(tmp) if f.endswith(".parquet")
        )
        dest = _os.path.join(src, f"batch{i}.parquet")
        _os.rename(_os.path.join(tmp, fn), dest)
        _sh.rmtree(tmp)
        _os.utime(dest, (1_000_000 + i, 1_000_000 + i))  # pin file order
    stream = (
        spark.readStream.schema("user_id long, event_id long, "
                                "ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    totals = running_user_totals(stream)
    _run_bounded(totals, out, cp, "q162", state_partitions=4)
    res = spark.read.parquet(out)
    return res.select(
        "user_id", "event_id", "seq_no",
        F.round("running_value", 4).alias("running_value"),
    ).orderBy("user_id", "seq_no")


# --------------------------------------------------------------------------
# Q163: distributed triangle counting (degree-oriented wedge join)
# --------------------------------------------------------------------------
@_declare(
    "q163_triangle_counts",
    """
    WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1997-01-01'),
    e AS (SELECT DISTINCT a.l_partkey pa, b.l_partkey pb
          FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
                             AND a.l_partkey < b.l_partkey),
    tri AS (SELECT e1.pa a, e1.pb b, e2.pb c
            FROM e e1
              JOIN e e2 ON e2.pa = e1.pb
              JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
    nodes AS (SELECT a n FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri)
    SELECT CAST(n AS BIGINT) part, CAST(COUNT(*) AS BIGINT) n_triangles
    FROM nodes GROUP BY 1 ORDER BY 1
    """,
)
def q163(spark, sf_dir):
    """Distributed TRIANGLE COUNTING over the 1996 co-purchase graph
    (parts sharing an order), per-node participation counts.  The
    engine runs the degree-oriented wedge join
    (operators/graph.triangle_counts): every undirected edge oriented
    from its lower-(degree, id) endpoint, wedges self-joined on the
    root and closed by ONE more equi-join — each triangle found
    exactly once at its lowest-rank corner, with per-key fan-out
    bounded by the oriented out-degree (O(sqrt(m)) even on power-law
    graphs; max 97 on this one).  The oracle is DuckDB's exact
    three-way self-join on the numerically-canonical edge list —
    quadratic per key and fine at gate scale, which is precisely the
    naive shape the orientation replaces.  Every stage is a hash
    equi-join or hash agg; nothing is corpus-global."""
    from ..operators.graph import triangle_counts

    lp = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    la, lb = lp.alias("la"), lp.alias("lb")
    edges = (
        la.join(lb, F.col("la.l_orderkey") == F.col("lb.l_orderkey"))
        .filter(F.col("la.l_partkey") < F.col("lb.l_partkey"))
        .select(
            F.col("la.l_partkey").alias("a"),
            F.col("lb.l_partkey").alias("b"),
        )
        .distinct()
    )
    return (
        triangle_counts(edges)
        .select(
            F.col("node").cast("long").alias("part"),
            F.col("n_triangles").cast("long").alias("n_triangles"),
        )
        .orderBy("part")
    )


# --------------------------------------------------------------------------
# Q164/Q165: epoch-deterministic training shuffle + data-quality gates
# --------------------------------------------------------------------------
@_declare(
    "q164_epoch_shuffle",
    """
    WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 2000),
    sh AS (
      SELECT e.epoch, d.doc_id,
             md5(CAST(e.epoch AS VARCHAR) || chr(31)
                 || CAST(d.doc_id AS VARCHAR)) h
      FROM d CROSS JOIN (SELECT unnest([1, 2]) epoch) e),
    b AS (SELECT epoch, doc_id, h,
                 CAST(CAST(('0x' || substring(h, 1, 15)) AS UBIGINT) % 8
                      AS BIGINT) batch
          FROM sh)
    SELECT epoch, doc_id, batch,
           CAST(ROW_NUMBER() OVER (PARTITION BY epoch, batch
                                   ORDER BY h, doc_id) AS BIGINT) pos
    FROM b ORDER BY epoch, batch, pos
    """,
)
def q164(spark, sf_dir):
    """Deterministic per-EPOCH training shuffle (sampling.epoch_shuffle)
    for epochs 1 and 2: every document gets a reproducible (batch, pos)
    per epoch — the data-loader contract for resuming mid-epoch or
    re-deriving exactly what step K saw.  The oracle recomputes the
    md5(epoch, id) permutation in SQL, so a hash match pins that the
    shuffle is (a) deterministic, (b) epoch-dependent, and (c) exactly
    the declared map, not merely "some" permutation.  Scale shape:
    batch is a pure hash column (no global sort) and the only window
    is PARTITIONED by batch — bounded by batch size, never a
    single-reducer global row number."""
    from ..operators.sampling import epoch_shuffle

    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 2000
    )
    e1 = epoch_shuffle(docs, epoch=1, num_batches=8)
    e2 = epoch_shuffle(docs, epoch=2, num_batches=8)
    return (
        e1.unionByName(e2)
        .select(
            "epoch", "doc_id",
            F.col("batch").cast("long").alias("batch"),
            F.col("pos").cast("long").alias("pos"),
        )
        .orderBy("epoch", "batch", "pos")
    )


@_declare(
    "q165_constraint_checks",
    """
    WITH base AS (
      SELECT o.*, c.c_custkey ref_ok
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey),
    agg AS (
      SELECT COUNT(*) checked,
        SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) positive_price,
        SUM(CASE WHEN o_orderstatus IN ('O', 'F', 'P') THEN 0 ELSE 1 END)
          valid_status,
        SUM(CASE WHEN o_orderdate >= TIMESTAMP '1992-01-01'
                  AND o_orderdate < TIMESTAMP '1999-01-01'
                 THEN 0 ELSE 1 END) date_in_range,
        SUM(CASE WHEN ref_ok IS NULL THEN 1 ELSE 0 END) customer_exists
      FROM base)
    SELECT "rule", CAST(violations AS BIGINT) violations,
           CAST(checked AS BIGINT) checked
    FROM (
      SELECT 'positive_price' AS "rule", positive_price violations, checked
        FROM agg
      UNION ALL SELECT 'valid_status', valid_status, checked FROM agg
      UNION ALL SELECT 'date_in_range', date_in_range, checked FROM agg
      UNION ALL SELECT 'customer_exists', customer_exists, checked FROM agg)
    ORDER BY "rule"
    """,
)
def q165(spark, sf_dir):
    """Declarative DATA-QUALITY GATE (operators/quality
    .check_constraints — the Deequ/dbt-test shape): four named rules
    over orders evaluated as ONE aggregation pass (each predicate rule
    a conditional sum in a single hash aggregate) plus one broadcast
    left-anti for the referential rule; (rule, violations, checked)
    rows hash-match the oracle's CASE-WHEN recount.  N rules cost one
    scan, not N — the property that matters when the table is 100 TB
    and the rule set is a compliance checklist."""
    from ..operators.quality import check_constraints

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return check_constraints(
        orders,
        rules={
            "positive_price": "o_totalprice > 0",
            "valid_status": "o_orderstatus IN ('O', 'F', 'P')",
            "date_in_range": (
                "o_orderdate >= TIMESTAMP '1992-01-01' AND "
                "o_orderdate < TIMESTAMP '1999-01-01'"
            ),
        },
        references={
            "customer_exists": (customer, "o_custkey", "c_custkey")
        },
    ).orderBy("rule")


# --------------------------------------------------------------------------
# Q166: TPC-H Q22 shape — scalar-subquery threshold + NOT EXISTS anti-join
# --------------------------------------------------------------------------
@_declare(
    "q166_dormant_rich_customers",
    """
    WITH thresh AS (
      SELECT AVG(c_acctbal) t FROM customer WHERE c_acctbal > 0),
    cand AS (
      SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
      FROM customer c, thresh
      WHERE c.c_acctbal > thresh.t
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderdate >= TIMESTAMP '1998-01-01'))
    SELECT n.n_name nation,
           CAST(COUNT(*) AS BIGINT) numcust,
           ROUND(SUM(c_acctbal), 2) totacctbal
    FROM cand JOIN nation n ON n.n_nationkey = cand.c_nationkey
    GROUP BY 1 ORDER BY 1
    """,
)
def q166(spark, sf_dir):
    """TPC-H Q22's shape on the trimmed schema: customers with an
    above-average positive balance and no orders SINCE 1998 (every
    trimmed-testdata customer has some order, so dormancy is
    date-scoped to keep the gate non-vacuous: 3 survivors at sf0.01,
    30 at sf0.1), rolled up per nation.  The plan the shape exists to pin: the average is a
    1-row scalar aggregate CROSS-JOINED (broadcast) onto the scan —
    never a correlated per-row subquery; NOT EXISTS lowers to a
    LEFT ANTI hash join on custkey; nation is a broadcast dim.  One
    pass over customer, one over orders' custkey column (pruned
    scan), no shuffle larger than the anti join."""
    cust = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
        )
        .select("o_custkey")
    )
    nation = load_table(spark, sf_dir, "nation")
    thresh = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("t")
    )
    cand = (
        cust.crossJoin(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("t"))
        .join(
            orders,
            cust["c_custkey"] == orders["o_custkey"],
            "left_anti",
        )
    )
    return (
        cand.join(
            F.broadcast(nation),
            cand["c_nationkey"] == nation["n_nationkey"],
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("nation")
    )


# --------------------------------------------------------------------------
# Q167: stream-static enrichment join inside the gate
# --------------------------------------------------------------------------
@_declare(
    "q167_stream_static_enrich",
    """
    WITH fs AS (SELECT user_id, date_trunc('week', MIN(ts)) cohort
                FROM events GROUP BY 1)
    SELECT CAST(floor(epoch(fs.cohort)) AS BIGINT) cohort_ws,
           e.event_type,
           CAST(COUNT(*) AS BIGINT) n
    FROM events e JOIN fs ON fs.user_id = e.user_id
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q167(spark, sf_dir):
    """STREAM-STATIC join inside the gate — the remaining streaming
    join mode after q160's stream-stream form: the events replay is
    enriched against a STATIC per-user cohort dimension (week of first
    event, computed in batch from the same table), then cohort x type
    counts of the emitted rows must hash-match the batch join.  In
    production this is the dimension-enrichment pattern (stream joined
    to a slowly-changing dim re-resolved per micro-batch); no
    watermark is needed because the static side is bounded and the
    join is stateless — each micro-batch joins and emits.  The dim
    side broadcasts (user-count sized)."""
    st, out, cp = _streaming_events(spark, sf_dir, "q167")
    cohorts = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort"))
    )
    joined = st.select("user_id", "event_type").join(
        F.broadcast(cohorts), "user_id"
    )
    _run_bounded(joined, out, cp, "q167")
    res = spark.read.parquet(out)
    return (
        res.groupBy(
            F.unix_timestamp("cohort").alias("cohort_ws"), "event_type"
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("cohort_ws", "event_type")
    )


# --------------------------------------------------------------------------
# Q168: REAL baseline-JPEG decode pinned by exactly-representable coeffs
# --------------------------------------------------------------------------
@_declare(
    "q168_jpeg_decode_stats",
    """
    WITH d AS (SELECT doc_id,
                      (doc_id % 11) - 5 k00,
                      (doc_id % 7) - 3 k01,
                      ((doc_id // 7) % 7) - 3 k10,
                      (doc_id % 5) - 2 k22
               FROM documents WHERE doc_id < 150),
    px AS (
      SELECT d.doc_id,
        LEAST(255, GREATEST(0, FLOOR(
          d.k00 * 16 * sqrt(1.0/8) * sqrt(1.0/8)
          + d.k01 * 18 * sqrt(1.0/8)
              * (0.5 * cos((2*y.y + 1) * 1 * pi() / 16))
          + d.k10 * 18 * (0.5 * cos((2*x.x + 1) * 1 * pi() / 16))
              * sqrt(1.0/8)
          + d.k22 * 24 * (0.5 * cos((2*x.x + 1) * 2 * pi() / 16))
              * (0.5 * cos((2*y.y + 1) * 2 * pi() / 16))
          + 128.5))) p
      FROM d
      CROSS JOIN (SELECT unnest(range(0, 8)) x) x
      CROSS JOIN (SELECT unnest(range(0, 8)) y) y)
    SELECT doc_id media_id,
           ROUND(AVG(p * 1.0), 4) luma_mean,
           ROUND(SQRT(AVG(p * p) - AVG(p) * AVG(p)), 4) luma_std
    FROM px GROUP BY doc_id ORDER BY doc_id
    """,
)
def q168(spark, sf_dir):
    """REAL baseline-JPEG decode, arithmetically verified end to end:
    each document gets a genuine grayscale JPEG built directly from
    QUANTIZED DCT coefficients (jpeg_codec.encode_gray_from_coeffs —
    real markers, real DHT-declared Huffman codes, real entropy-coded
    scan), with nonzero coefficients only at (0,0), (0,1), (1,0),
    (2,2) in closed form of doc_id.  Because quantization is the sole
    lossy step and the coefficients are planted POST-quantization, the
    decoder's output is the exact closed form clip(floor(IDCT(K*Q) +
    128.5)) — which the DuckDB oracle recomputes with cos(), so a
    hash match proves the Huffman decode, dequantization, zigzag,
    and IDCT to the bit.  NOTE convention: x is the pixel ROW
    (matches u / the k10 horizontal-frequency term through the
    symmetric IDCT).  Map-only: synth and decode are Arrow-batched
    stages, no shuffle."""
    from ..operators.multimodal import extract_jpeg_features

    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 150
    )

    def synth(batches):
        import numpy as _np
        import pandas as _pd

        from django_datastream_spark.operators.jpeg_codec import (
            encode_gray_from_coeffs,
        )

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                q = _np.zeros((1, 1, 8, 8), _np.int64)
                q[0, 0, 0, 0] = (did % 11) - 5
                q[0, 0, 0, 1] = (did % 7) - 3
                q[0, 0, 1, 0] = ((did // 7) % 7) - 3
                q[0, 0, 2, 2] = (did % 5) - 2
                payloads.append(encode_gray_from_coeffs(q))
            yield _pd.DataFrame(
                {"media_id": pdf["doc_id"], "content": payloads}
            )

    media = docs.mapInPandas(synth, "media_id long, content binary")
    feats = extract_jpeg_features(media)
    return feats.select(
        "media_id",
        F.round("luma_mean", 4).alias("luma_mean"),
        F.round("luma_std", 4).alias("luma_std"),
    ).orderBy("media_id")


# --------------------------------------------------------------------------
# Q169: REAL GIF/LZW decode — lossless, so the closed form is exact
# --------------------------------------------------------------------------
@_declare(
    "q169_gif_channel_stats",
    """
    WITH px AS (
      SELECT d.doc_id,
             ((d.doc_id * 17 + ((r.r * 20 + c.c) % 48) * 5) % 256) pr,
             ((d.doc_id * 17 + ((r.r * 20 + c.c) % 48) * 5 + 31) % 256) pg,
             ((d.doc_id * 17 + ((r.r * 20 + c.c) % 48) * 5 + 62) % 256) pb
      FROM (SELECT doc_id FROM documents WHERE doc_id < 150) d
      CROSS JOIN (SELECT unnest(range(0, 10)) r) r
      CROSS JOIN (SELECT unnest(range(0, 20)) c) c),
    lm AS (SELECT doc_id, pr, pg, pb,
                  0.299 * pr + 0.587 * pg + 0.114 * pb luma
           FROM px)
    SELECT doc_id media_id,
           CAST(20 AS INT) width, CAST(10 AS INT) height,
           ROUND(AVG(pr * 1.0), 4) mean_r,
           ROUND(AVG(pg * 1.0), 4) mean_g,
           ROUND(AVG(pb * 1.0), 4) mean_b,
           ROUND(AVG(lm.luma), 4) luma_mean,
           ROUND(SQRT(AVG(lm.luma * lm.luma)
                      - AVG(lm.luma) * AVG(lm.luma)), 4) luma_std
    FROM lm GROUP BY doc_id ORDER BY doc_id
    """,
)
def q169(spark, sf_dir):
    """REAL GIF decode, exactly verified: each document gets a 20x10
    RGB image whose pixel (r, c) cycles through 48 closed-form colors
    (<= 256, so the palette encode is LOSSLESS), LZW-compressed into a
    genuine GIF87a (media_codecs.encode_gif — variable-width codes,
    clear/EOI, table growth) and decoded by the real LZW decoder via
    the shared feature extractor.  Because GIF is lossless the DuckDB
    oracle's closed-form recount must match EXACTLY — any
    off-by-one in code-width growth, sub-block framing, or the KwKwK
    deferred-code case corrupts pixels and breaks the hash.
    Map-only: synth and decode are Arrow-batched stages."""
    from ..operators.multimodal import extract_gif_features

    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 150
    )

    def synth(batches):
        import numpy as _np
        import pandas as _pd

        from django_datastream_spark.operators.media_codecs import encode_gif

        h, w = 10, 20
        r = _np.arange(h).reshape(h, 1)
        c = _np.arange(w).reshape(1, w)
        cyc = ((r * w + c) % 48) * 5
        k = _np.arange(3).reshape(1, 1, 3) * 31
        for pdf in batches:
            payloads = [
                encode_gif(
                    ((int(did) * 17 + cyc[..., None] + k) % 256).astype(
                        _np.uint8
                    )
                )
                for did in pdf["doc_id"]
            ]
            yield _pd.DataFrame(
                {"media_id": pdf["doc_id"], "content": payloads}
            )

    media = docs.mapInPandas(synth, "media_id long, content binary")
    feats = extract_gif_features(media)
    return feats.select(
        "media_id", "width", "height",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
        F.round("luma_mean", 4).alias("luma_mean"),
        F.round("luma_std", 4).alias("luma_std"),
    ).orderBy("media_id")


# --------------------------------------------------------------------------
# Q170/Q171: the LAKEHOUSE path inside the gate — txn-log table with
# data-skipped reads, and the txn_table streaming source replay.
# --------------------------------------------------------------------------
def _txn_events_table(spark, sf_dir, key):
    """Build (fresh per call, like q155's replay dirs) a txn-log table
    from the events table as three commits with disjoint day ranges —
    v1 = days 1-10, v2 = 11-20, v3 = 21-31 — so commit versions are a
    deterministic function of the data and oracle-expressible."""
    import hashlib as _hl
    import os as _os
    import shutil as _sh
    import tempfile as _tmp

    from .. import txnlog as TL

    base = _os.path.join(
        _tmp.gettempdir(),
        f"{key}_" + _hl.md5(sf_dir.encode()).hexdigest()[:10],
    )
    _sh.rmtree(base, ignore_errors=True)
    root = _os.path.join(base, "table")
    ev = load_table(spark, sf_dir, "events")
    # one scan+write job routed into the three commits (txn_append_split)
    # instead of three filter+write jobs — commit contents are identical
    era = (
        F.when(F.dayofmonth("ts") <= 10, F.lit(1))
        .when(F.dayofmonth("ts") <= 20, F.lit(2))
        .otherwise(F.lit(3))
    )
    TL.txn_append_split(spark, ev.coalesce(2), root, era, [1, 2, 3])
    return root


@_declare(
    "q170_txn_data_skipping",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) n,
           CAST(MIN(event_id) AS BIGINT) mn,
           CAST(MAX(event_id) AS BIGINT) mx
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-12 00:00:00'
      AND ts < TIMESTAMP '2024-01-19 00:00:00'
    GROUP BY 1 ORDER BY 1
    """,
)
def q170(spark, sf_dir):
    """Transaction-log table + DATA SKIPPING inside the driver gate:
    events lands as three commits with disjoint day ranges, then a
    time-bounded ``txn_read(where=...)`` consults the footer stats
    recorded at commit and hands Spark only intersecting files (the
    middle commit; pruning effectiveness is pinned separately in
    tests/test_txnlog.py) — and the aggregate must hash-match plain
    SQL over the source table, proving pruning is I/O-only.  NOTE:
    the builder RUNS Spark jobs (it writes the table; by-name
    exemption in test_declaring_queries_runs_no_jobs), and stats
    pruning degrades gracefully to keep-all when the driver session
    writes INT96 timestamps (no footer stats) — correctness does not
    depend on the session's parquet conf."""
    import datetime as _dt

    from .. import txnlog as TL

    root = _txn_events_table(spark, sf_dir, "q170")
    lo = _dt.datetime(2024, 1, 12)
    hi = _dt.datetime(2024, 1, 18, 23, 59, 59, 999999)
    got = TL.txn_read(spark, root, where={"ts": (lo, hi)})
    return (
        got.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("event_id").cast("long").alias("mn"),
            F.max("event_id").cast("long").alias("mx"),
        )
        .orderBy("event_type")
    )


@_declare(
    "q171_txn_stream_replay",
    """
    WITH t AS (
      SELECT event_id,
             CASE WHEN day(ts) <= 10 THEN 1
                  WHEN day(ts) <= 20 THEN 2
                  ELSE 3 END v
      FROM events)
    SELECT CAST(v AS BIGINT) commit_version,
           CAST(COUNT(*) AS BIGINT) n,
           CAST(MIN(event_id) AS BIGINT) mn,
           CAST(MAX(event_id) AS BIGINT) mx
    FROM t GROUP BY 1 ORDER BY 1
    """,
)
def q171(spark, sf_dir):
    """The txn_table STREAMING source inside the gate: the three-commit
    table from q170's builder replays through readStream.format(
    'txn_table') (commit-version offsets, one InputPartition per data
    file, availableNow) into a parquet sink, and the per-commit row
    counts + event_id ranges must hash-match batch SQL that recomputes
    each row's commit from its day range.  This makes the driver
    verify the source's exactly-once file->version mapping, not just
    our tests.  Builder runs the bounded streaming job (same exemption
    family as q155)."""
    import os as _os

    from ..sources import txn_stream

    root = _txn_events_table(spark, sf_dir, "q171")
    base = _os.path.dirname(root)
    out, cp = _os.path.join(base, "out"), _os.path.join(base, "cp")
    txn_stream.register(spark)
    st = (
        spark.readStream.format("txn_table").option("path", root).load()
    )
    q = (
        st.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    res = spark.read.parquet(out)
    return (
        res.groupBy(F.col("_commit_version").alias("commit_version"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("event_id").cast("long").alias("mn"),
            F.max("event_id").cast("long").alias("mx"),
        )
        .orderBy("commit_version")
    )


@_declare(
    "q172_txn_delete_vectors",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) n,
           CAST(MIN(event_id) AS BIGINT) mn,
           CAST(MAX(event_id) AS BIGINT) mx
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
      AND ts < TIMESTAMP '2024-01-25 00:00:00'
      AND NOT (event_type = 'error' OR value < 1.0)
    GROUP BY 1 ORDER BY 1
    """,
)
def q172(spark, sf_dir):
    """DELETE via DELETION VECTORS inside the gate: on the three-commit
    txn table, ``txn_delete`` marks error/low-value rows dead by
    (file, position) sidecar vectors — no data file rewritten — and a
    subsequent time-bounded, stats-pruned read must hash-match SQL
    that excludes the same rows from the source table.  The driver
    thereby verifies the whole DV pipeline: vector write, fold,
    anti-join on the scan, and its composition with data skipping.
    Builder runs Spark jobs (same exemption family as q170)."""
    import datetime as _dt

    from .. import txnlog as TL

    root = _txn_events_table(spark, sf_dir, "q172")
    res = TL.txn_delete(
        spark, root, "event_type = 'error' OR value < 1.0"
    )
    assert res["deleted_rows"] > 0  # non-vacuous at every gate SF
    lo = _dt.datetime(2024, 1, 5)
    hi = _dt.datetime(2024, 1, 24, 23, 59, 59, 999999)
    got = TL.txn_read(spark, root, where={"ts": (lo, hi)})
    return (
        got.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("event_id").cast("long").alias("mn"),
            F.max("event_id").cast("long").alias("mx"),
        )
        .orderBy("event_type")
    )


@_declare(
    "q173_txn_update_vectors",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) n,
           CAST(SUM(CASE WHEN event_type = 'error'
                         THEN 1 ELSE 0 END) AS BIGINT) updated_n,
           CAST(MIN(event_id) AS BIGINT) mn,
           CAST(MAX(event_id) AS BIGINT) mx
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def q173(spark, sf_dir):
    """UPDATE via deletion vectors inside the gate: error rows get
    ``value = -1`` (new files + vectors on the old positions, no full
    rewrite), and the per-type row counts, negative-value counts and
    event_id ranges must hash-match SQL over the SOURCE table — i.e.
    the update changed exactly the targeted column of exactly the
    targeted rows and preserved every row identity.  Builder runs
    Spark jobs (same exemption family as q170)."""
    from .. import txnlog as TL

    root = _txn_events_table(spark, sf_dir, "q173")
    res = TL.txn_update(
        spark, root, "event_type = 'error'", {"value": "-1.0"}
    )
    if res["updated_rows"] <= 0:
        raise AssertionError("q173 must update rows at every gate SF")
    got = TL.txn_read(spark, root)
    return (
        got.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("value") < 0, 1).otherwise(0)
            ).cast("long").alias("updated_n"),
            F.min("event_id").cast("long").alias("mn"),
            F.max("event_id").cast("long").alias("mx"),
        )
        .orderBy("event_type")
    )


@_declare(
    "q174_txn_stream_sink",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) n,
           CAST(MIN(event_id) AS BIGINT) mn,
           CAST(MAX(event_id) AS BIGINT) mx
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def q174(spark, sf_dir):
    """The EXACTLY-ONCE txn sink inside the gate: events replays
    through a file stream into ``streaming_sink`` (foreachBatch →
    app-txn-stamped commits), then the WHOLE availableNow run is
    repeated with a FRESH stream checkpoint — the worst-case
    at-least-once redelivery, every batch re-offered.  The txn-read
    aggregate must still hash-match one copy of the source table:
    duplicates would break n/mn/mx per type.  Builder runs two bounded
    streaming jobs (same exemption family as q155/q170)."""
    import os as _os
    import shutil as _sh

    from .. import txnlog as TL

    st, out, cp = _streaming_events(spark, sf_dir, "q174")
    base = _os.path.dirname(out)
    table = _os.path.join(base, "table")

    def _run(cp_dir):
        q = (
            st.writeStream.foreachBatch(
                TL.streaming_sink(table, [], app_id="q174")
            )
            .option("checkpointLocation", cp_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)

    _run(cp)
    # wiped stream checkpoint: Spark re-delivers everything; the
    # app-txn ledger must refuse every duplicate batch
    cp2 = _os.path.join(base, "cp2")
    _sh.rmtree(cp2, ignore_errors=True)
    _run(cp2)
    got = TL.txn_read(spark, table)
    return (
        got.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("event_id").cast("long").alias("mn"),
            F.max("event_id").cast("long").alias("mx"),
        )
        .orderBy("event_type")
    )


@_declare(
    "q175_txn_restore",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) n,
           CAST(SUM(CASE WHEN event_type = 'error'
                         THEN 1 ELSE 0 END) AS BIGINT) err_n,
           CAST(MIN(event_id) AS BIGINT) mn,
           CAST(MAX(event_id) AS BIGINT) mx
    FROM events
    WHERE day(ts) <= 20
    GROUP BY 1 ORDER BY 1
    """,
)
def q175(spark, sf_dir):
    """RESTORE inside the gate: on the three-commit txn table,
    ``txn_delete`` vectors out every error row (v4), then the table is
    restored to v2 (days 1-20, pre-delete).  The restore must BOTH
    drop v3's files and drop the v4 vectors on the surviving files
    (vector-state divergence cycles the file through remove+re-add) —
    so the final read hash-matching days 1-20 of the SOURCE table
    WITH its error rows proves file-set rollback and deletion-state
    rollback in one aggregate (err_n pins the resurrection).  Builder
    runs Spark jobs (same exemption family as q170)."""
    from .. import txnlog as TL

    root = _txn_events_table(spark, sf_dir, "q175")
    res = TL.txn_delete(spark, root, "event_type = 'error'")
    assert res["deleted_rows"] > 0  # non-vacuous at every gate SF
    r = TL.txn_restore(root, 2)
    assert r["files_removed"] > 0 and r["files_added"] > 0
    got = TL.txn_read(spark, root)
    return (
        got.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("event_type") == "error", 1).otherwise(0)
            ).cast("long").alias("err_n"),
            F.min("event_id").cast("long").alias("mn"),
            F.max("event_id").cast("long").alias("mx"),
        )
        .orderBy("event_type")
    )


@_declare(
    "q176_txn_schema_evolution",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) n,
           CAST(SUM(CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END)
                AS BIGINT) src_n,
           MIN(CASE WHEN day(ts) > 15 THEN UPPER(event_type) END) mn_src,
           CAST(MIN(event_id) AS BIGINT) mn,
           CAST(MAX(event_id) AS BIGINT) mx
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def q176(spark, sf_dir):
    """SCHEMA EVOLUTION inside the gate: days 1-15 of events commit
    under the base schema, days 16-31 commit with an ADDED ``src``
    column via ``merge_schema=True`` — the widened schema is recorded
    in the log and a DEFAULT ``txn_read`` (no caller schema, no
    mergeSchema footer sweep) must null-fill the pre-evolution rows.
    ``src_n`` (non-null count) and ``mn_src`` hash-matching SQL that
    recomputes the column from the day boundary prove both the
    evolution commit and the schema-directed read.  Builder runs
    Spark jobs (same exemption family as q170)."""
    import hashlib as _hl
    import os as _os
    import shutil as _sh
    import tempfile as _tmp

    from .. import txnlog as TL

    base = _os.path.join(
        _tmp.gettempdir(),
        "q176_" + _hl.md5(sf_dir.encode()).hexdigest()[:10],
    )
    _sh.rmtree(base, ignore_errors=True)
    root = _os.path.join(base, "table")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    TL.txn_append(
        spark, ev.filter(F.dayofmonth("ts") <= 15).coalesce(2), root, []
    )
    TL.txn_append(
        spark,
        ev.filter(F.dayofmonth("ts") > 15)
        .withColumn("src", F.upper("event_type"))
        .coalesce(2),
        root,
        [],
        merge_schema=True,
    )
    got = TL.txn_read(spark, root)  # schema-directed: src null-fills
    return (
        got.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count("src").cast("long").alias("src_n"),
            F.min("src").alias("mn_src"),
            F.min("event_id").cast("long").alias("mn"),
            F.max("event_id").cast("long").alias("mx"),
        )
        .orderBy("event_type")
    )


@_declare(
    "q177_txn_optimize_vacuum",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) n,
           CAST(MIN(event_id) AS BIGINT) mn,
           CAST(MAX(event_id) AS BIGINT) mx
    FROM events
    WHERE event_type <> 'error'
    GROUP BY 1 ORDER BY 1
    """,
)
def q177(spark, sf_dir):
    """OPTIMIZE + VACUUM inside the gate: on the three-commit txn
    table, ``txn_delete`` marks error rows dead via deletion vectors,
    ``txn_optimize`` compacts the small files — MATERIALIZING the
    vectors (rewritten files drop their dead rows, sidecars become
    unreferenced) — and ``txn_vacuum(0)`` sweeps the superseded
    originals.  The post-maintenance read must hash-match SQL that
    excludes the same rows from the source table, proving the whole
    maintenance path (DV fold -> compaction rewrite -> orphan sweep)
    is byte-shuffling only, never row-changing.  The non-vacuous
    asserts pin that compaction actually ran and vacuum actually
    removed files at every gate SF.  Builder runs Spark jobs (same
    exemption family as q170)."""
    from .. import txnlog as TL

    root = _txn_events_table(spark, sf_dir, "q177")
    res = TL.txn_delete(spark, root, "event_type = 'error'")
    if res["deleted_rows"] <= 0:
        raise AssertionError("q177 must delete rows at every gate SF")
    opt = TL.txn_optimize(spark, root)
    if opt.get("skipped") or opt["rewritten_files"] < 2:
        raise AssertionError("q177 optimize must compact the table")
    swept = TL.txn_vacuum(root)
    if not swept:
        raise AssertionError("q177 vacuum must sweep superseded files")
    got = TL.txn_read(spark, root)
    return (
        got.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("event_id").cast("long").alias("mn"),
            F.max("event_id").cast("long").alias("mx"),
        )
        .orderBy("event_type")
    )


@_declare(
    "q178_txn_metadata_count",
    """
    SELECT CAST(COUNT(*) AS BIGINT) full_n,
           CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-08 00:00:00'
                          AND ts < TIMESTAMP '2024-01-24 00:00:00'
                         THEN 1 ELSE 0 END) AS BIGINT) window_n
    FROM events WHERE event_type <> 'error'
    """,
)
def q178(spark, sf_dir):
    """Metadata-only COUNT inside the gate: after ``txn_delete`` marks
    error rows dead, ``txn_count`` answers COUNT(*) from per-file row
    counts minus the recorded deletion-vector counts (zero data I/O),
    and the windowed form scans only the boundary files a range edge
    cuts through (interior files count from metadata).  Both counts
    must hash-match SQL over the source table minus the deleted rows —
    the driver thereby pins that commit-time row/vector accounting
    agrees with the bytes.  Builder runs Spark jobs (same exemption
    family as q170)."""
    import datetime as _dt

    from .. import txnlog as TL

    root = _txn_events_table(spark, sf_dir, "q178")
    res = TL.txn_delete(spark, root, "event_type = 'error'")
    if res["deleted_rows"] <= 0:
        raise AssertionError("q178 must delete rows at every gate SF")
    full_n = TL.txn_count(spark, root)
    lo = _dt.datetime(2024, 1, 8)
    hi = _dt.datetime(2024, 1, 23, 23, 59, 59, 999999)
    window_n = TL.txn_count(spark, root, where={"ts": (lo, hi)})
    return spark.range(1).select(
        F.lit(full_n).cast("long").alias("full_n"),
        F.lit(window_n).cast("long").alias("window_n"),
    )


@_declare(
    "q179_txn_time_travel",
    """
    SELECT CAST(v.v AS BIGINT) ver,
           CAST(COUNT(*) AS BIGINT) n,
           CAST(MIN(event_id) AS BIGINT) mn,
           CAST(MAX(event_id) AS BIGINT) mx
    FROM events, (VALUES (1), (2), (3)) v(v)
    WHERE day(ts) <= CASE v.v WHEN 1 THEN 10 WHEN 2 THEN 20 ELSE 31 END
    GROUP BY 1 ORDER BY 1
    """,
)
def q179(spark, sf_dir):
    """TIME TRAVEL inside the gate: every snapshot era of the
    three-commit table reads back via ``txn_read(version=v)`` and the
    per-era row counts + event_id ranges must hash-match SQL that
    recomputes each era from its day boundary — i.e. each version is
    exactly the cumulative file set its commit recorded, with no
    leakage from later commits (snapshot isolation as the driver
    sees it).  Builder runs Spark jobs (same exemption family as
    q170)."""
    from functools import reduce as _reduce

    from .. import txnlog as TL

    root = _txn_events_table(spark, sf_dir, "q179")
    eras = [
        TL.txn_read(spark, root, version=v)
        .groupBy(F.lit(v).cast("long").alias("ver"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("event_id").cast("long").alias("mn"),
            F.max("event_id").cast("long").alias("mx"),
        )
        for v in (1, 2, 3)
    ]
    return _reduce(lambda a, b: a.unionByName(b), eras).orderBy("ver")


@_declare(
    "q180_txn_bloom_lookup",
    """
    SELECT CAST(event_id AS BIGINT) event_id, event_type, value
    FROM events
    WHERE event_id = (SELECT MIN(event_id) FROM events
                      WHERE day(ts) = 15)
    """,
)
def q180(spark, sf_dir):
    """BLOOM-FILTER point lookup inside the gate: events commit as
    three files INTERLEAVED by ``event_id % 3`` — every file spans the
    full key range, so min/max stats prune nothing — then
    ``txn_bloom_build`` indexes event_id and a point lookup must (a)
    provably skip files via the filter (non-vacuous assert) and (b)
    hash-match SQL for the same key.  The probe key is data-derived
    (min event_id of day 15) so the query is deterministic at every
    gate SF.  Builder runs Spark jobs (same exemption family as
    q170)."""
    import hashlib as _hl
    import os as _os
    import shutil as _sh
    import tempfile as _tmp

    from .. import txnlog as TL

    base = _os.path.join(
        _tmp.gettempdir(),
        "q180_" + _hl.md5(sf_dir.encode()).hexdigest()[:10],
    )
    _sh.rmtree(base, ignore_errors=True)
    root = _os.path.join(base, "table")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    for r in (0, 1, 2):
        TL.txn_append(
            spark,
            ev.filter(F.col("event_id") % 3 == r).coalesce(1),
            root,
            [],
        )
    TL.txn_bloom_build(spark, root, ["event_id"])
    probe = (
        ev.filter(F.dayofmonth("ts") == 15)
        .agg(F.min("event_id"))
        .collect()[0][0]
    )
    _, kept, pruned = TL.prune_files(root, {"event_id": int(probe)})
    if not pruned:
        raise AssertionError("q180 bloom must prune files at every SF")
    got = TL.txn_read(spark, root, where={"event_id": int(probe)})
    return got.select(
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
        "value",
    )


@_declare(
    "q181_txn_replace_where",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) n,
           CAST(MIN(event_id) AS BIGINT) mn,
           CAST(MAX(event_id) AS BIGINT) mx,
           ROUND(SUM(CASE WHEN event_type = 'error'
                          THEN -value ELSE value END), 4) sv
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def q181(spark, sf_dir):
    """replaceWhere inside the gate: events commit hive-partitioned by
    event_type, then ``txn_overwrite_where`` atomically swaps the
    ``error`` partition for a recomputed copy (value negated) in ONE
    commit — and the per-type counts, id ranges and value sums must
    hash-match SQL that applies the same recompute to the source
    table, proving the swap replaced exactly the targeted partition
    and preserved every other row byte-for-byte.  Builder runs Spark
    jobs (same exemption family as q170)."""
    import hashlib as _hl
    import os as _os
    import shutil as _sh
    import tempfile as _tmp

    from .. import txnlog as TL

    base = _os.path.join(
        _tmp.gettempdir(),
        "q181_" + _hl.md5(sf_dir.encode()).hexdigest()[:10],
    )
    _sh.rmtree(base, ignore_errors=True)
    root = _os.path.join(base, "table")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    TL.txn_append(spark, ev.coalesce(4), root, ["event_type"])
    repl = ev.filter(F.col("event_type") == "error").withColumn(
        "value", -F.col("value")
    )
    res = TL.txn_overwrite_where(
        spark, root, repl, {"event_type": "error"}
    )
    if res["replaced_files"] < 1:
        raise AssertionError("q181 must replace files at every SF")
    got = TL.txn_read(spark, root)
    return (
        got.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("event_id").cast("long").alias("mn"),
            F.max("event_id").cast("long").alias("mx"),
            F.round(F.sum("value"), 4).alias("sv"),
        )
        .orderBy("event_type")
    )


@_declare(
    "q182_engine_on_txn",
    """
    WITH h AS (
        SELECT date_trunc('hour', ts) hb, SUM(value) v
        FROM events WHERE value IS NOT NULL GROUP BY 1
    )
    SELECT CAST(e.ver AS BIGINT) ver,
           CAST(date_trunc('day', hb) AS TIMESTAMP) b,
           CAST(COUNT(*) AS BIGINT) c,
           ROUND(SUM(v), 4) s
    FROM h, (VALUES (1), (2), (3)) e(ver)
    WHERE e.ver >= 2 OR hb < TIMESTAMP '2024-01-16 12:00:00'
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q182(spark, sf_dir):
    """The datastream ENGINE's hot table (``points_raw``, stored on the
    transactional log) inside the oracle gate: hourly sums ingest
    through ``append_multiple`` in two batches split at a fixed
    mid-month instant — each batch lands as ONE log commit —
    ``compact_points_raw`` becomes an OPTIMIZE commit (the split day
    holds files from both batches, so compaction provably rewrites),
    and all three commit versions read back through the engine's
    ``read_table_at`` time travel.  Day-level rollups of every era
    must hash-match SQL that recomputes each era from the split
    boundary: era 1 = first batch, era 2 = both, era 3 = post-OPTIMIZE
    (byte-shuffling only, identical rows to era 2).  Ingest volume is
    CALENDAR-bounded (≤744 hour buckets at any SF), so the
    driver-side dict hand-off is scaffolding-cheap at every scale; the
    era aggregation happens in the RETURNED plan (JVM-side), not at
    build time.  The engine's DOWNSAMPLE on the log (conflicted
    tail-bucket upsert landing as one snapshot-isolated overwrite
    commit) is pinned exactly in tests/test_txn_points.py —
    a full ingest→downsample→read cycle is ~40 driver-jobs and
    container job latency would put it far outside the per-query
    bench gate, so the gate carries the ops surface and pytest
    carries the downsample algebra.  Non-vacuous asserts pin one
    commit per batch, a real OPTIMIZE rewrite, and exact commit
    versioning.  Builder runs Spark jobs (same exemption family as
    q170)."""
    import datetime as _dtm
    import hashlib as _hl
    import os as _os
    import shutil as _sh
    import tempfile as _tmp
    from functools import reduce as _reduce

    from .. import txnlog as TL
    from ..api import Datastream

    _UTC = _dtm.timezone.utc
    base = _os.path.join(
        _tmp.gettempdir(),
        "q182_" + _hl.md5(sf_dir.encode()).hexdigest()[:10],
    )
    _sh.rmtree(base, ignore_errors=True)

    hourly = sorted(
        (r["hb"], r["v"])
        for r in load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy(F.date_trunc("hour", "ts").alias("hb"))
        .agg(F.sum("value").alias("v"))
        .collect()
    )
    split = _dtm.datetime(2024, 1, 16, 12)

    engine = Datastream(spark, _os.path.join(base, "store"))
    sid = engine.ensure_stream(
        {"title": "hourly-total"}, highest_granularity="hours"
    )
    for phase in (0, 1):
        rows = [
            {
                "stream_id": sid,
                "timestamp": hb.replace(tzinfo=_UTC),
                "value": float(v),
            }
            for hb, v in hourly
            if (hb < split) == (phase == 0)
        ]
        if not rows:
            raise AssertionError("q182 needs data on both sides of the split")
        # rows are sorted hour buckets; skipping the monotonicity probe
        # saves one validation job per batch (T1 stays pinned by q27 and
        # the api tests — this query pins the COMMIT protocol)
        engine.append_multiple(rows, check_timestamp=False)

    root = engine.tables.points_raw_path
    if not TL.is_txn_table(root) or TL.latest_version(root) != 2:
        raise AssertionError("q182: each append batch must be one commit")
    rewritten = engine.tables.compact_points_raw()
    if rewritten < 2:
        raise AssertionError(
            "q182: OPTIMIZE must rewrite the split day's two batch files"
        )
    ops = [
        r["op"] for r in TL.txn_history(spark, root).collect()
    ]
    if ops.count("append") != 2 or "optimize" not in ops:
        raise AssertionError(f"q182: unexpected commit history {ops}")

    eras = [
        engine.tables.read_table_at("points_raw", v)
        .groupBy(
            F.lit(v).cast("long").alias("ver"),
            F.date_trunc("day", "ts").alias("b"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("c"),
            F.round(F.sum("value"), 4).alias("s"),
        )
        for v in (1, 2, 3)
    ]
    return _reduce(lambda a, b: a.unionByName(b), eras).orderBy("ver", "b")


# --------------------------------------------------------------------------
# Q183: REAL progressive-JPEG (SOF2) decode — same closed form as q168
# --------------------------------------------------------------------------
@_declare(
    "q183_jpeg_progressive_decode",
    """
    WITH d AS (SELECT doc_id,
                      (doc_id % 11) - 5 k00,
                      (doc_id % 7) - 3 k01,
                      ((doc_id // 7) % 7) - 3 k10,
                      (doc_id % 5) - 2 k22,
                      ((doc_id // 3) % 3) - 1 k77
               FROM documents WHERE doc_id < 150),
    px AS (
      SELECT d.doc_id,
        LEAST(255, GREATEST(0, FLOOR(
          d.k00 * 16 * sqrt(1.0/8) * sqrt(1.0/8)
          + d.k01 * 18 * sqrt(1.0/8)
              * (0.5 * cos((2*y.y + 1) * 1 * pi() / 16))
          + d.k10 * 18 * (0.5 * cos((2*x.x + 1) * 1 * pi() / 16))
              * sqrt(1.0/8)
          + d.k22 * 24 * (0.5 * cos((2*x.x + 1) * 2 * pi() / 16))
              * (0.5 * cos((2*y.y + 1) * 2 * pi() / 16))
          + d.k77 * 44 * (0.5 * cos((2*x.x + 1) * 7 * pi() / 16))
              * (0.5 * cos((2*y.y + 1) * 7 * pi() / 16))
          + 128.5))) p
      FROM d
      CROSS JOIN (SELECT unnest(range(0, 8)) x) x
      CROSS JOIN (SELECT unnest(range(0, 8)) y) y)
    SELECT doc_id media_id,
           ROUND(AVG(p * 1.0), 4) luma_mean,
           ROUND(SQRT(AVG(p * p) - AVG(p) * AVG(p)), 4) luma_std
    FROM px GROUP BY doc_id ORDER BY doc_id
    """,
)
def q183(spark, sf_dir):
    """REAL progressive-JPEG (SOF2) decode, arithmetically verified:
    the q168 construction, but the planted post-quantization
    coefficients ship through the FULL progressive scan script —
    interleaved DC first scan at Al=1, DC refinement, AC 1..63 first
    pass with EOB-run coding, and the AC refinement correction-bit
    protocol (jpeg_codec._emit_progressive; T.81 Annex G).  An extra
    k77 term plants the (7,7) coefficient so the AC scans carry
    63-position runs (ZRL + EOB-run interplay) and negatives exercise
    the two's-complement refinement merge.  Successive approximation
    reassembles the exact integers, so the decoder's output is the
    same closed form clip(floor(IDCT(K*Q) + 128.5)) the DuckDB oracle
    recomputes with cos() — a hash match proves the multi-scan
    Huffman decode, EOBRUN skip, refinement bits, dequantization, and
    IDCT to the bit.  Quant step at (7,7) is 16+2*(7+7)=44.
    Map-only: synth and decode are Arrow-batched stages, no
    shuffle."""
    from ..operators.multimodal import extract_jpeg_features

    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 150
    )

    def synth(batches):
        import numpy as _np
        import pandas as _pd

        from django_datastream_spark.operators.jpeg_codec import (
            encode_gray_from_coeffs,
        )

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                q = _np.zeros((1, 1, 8, 8), _np.int64)
                q[0, 0, 0, 0] = (did % 11) - 5
                q[0, 0, 0, 1] = (did % 7) - 3
                q[0, 0, 1, 0] = ((did // 7) % 7) - 3
                q[0, 0, 2, 2] = (did % 5) - 2
                q[0, 0, 7, 7] = ((did // 3) % 3) - 1
                payloads.append(
                    encode_gray_from_coeffs(q, progressive=True)
                )
            yield _pd.DataFrame(
                {"media_id": pdf["doc_id"], "content": payloads}
            )

    media = docs.mapInPandas(synth, "media_id long, content binary")
    feats = extract_jpeg_features(media)
    return feats.select(
        "media_id",
        F.round("luma_mean", 4).alias("luma_mean"),
        F.round("luma_std", 4).alias("luma_std"),
    ).orderBy("media_id")


# --------------------------------------------------------------------------
# Q184/Q185: byte-level BPE tokenizer (train/encode/decode) in the gate
# --------------------------------------------------------------------------
@_declare(
    "q184_bpe_roundtrip_md5",
    """
    SELECT doc_id, md5(text) AS rt_md5
    FROM documents ORDER BY doc_id
    """,
)
def q184(spark, sf_dir):
    """Byte-level BPE round trip, md5-pinned per document: TRAIN on the
    corpus (one distributed word-count shuffle -> vocabulary-sized
    incremental merge loop, operators/bpe.py), ENCODE every document
    with the trained merges (Arrow-batched greedy loop with a
    distinct-word memo), DECODE by concatenation, and hash the
    reconstruction.  The DuckDB oracle hashes the ORIGINAL text, so a
    hash match proves the tokenizer is exactly lossless end to end —
    pre-tokenizer drops nothing, byte-level splitting covers all of
    UTF-8, and greedy merging never corrupts a boundary.  Non-vacuous:
    asserts that the trained merges actually fire (corpus tokens <
    corpus bytes) so an identity "tokenizer" cannot pass.  Training
    determinism (count-then-lexicographic tie-break) makes the merges
    cluster-reproducible; the trainer itself is differentially tested
    against a naive full-recount reference in tests/test_bpe.py."""
    from ..operators import bpe

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = bpe.train(docs, "text", vocab_size=384, min_pair_count=2)
    if not tok.merges:
        raise AssertionError("q184: training must learn merges")
    enc = bpe.encode_column(docs, tok, "text")

    def rebuild(batches):
        import pandas as pd

        for pdf in batches:
            outs = []
            for toks in pdf["tokens"]:
                if toks is None:
                    outs.append(None)
                else:
                    outs.append(
                        b"".join(bytes(t) for t in toks).decode("utf-8")
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "rt": outs,
                    "n_tok": pdf["tokens_n"],
                    "n_bytes": [
                        None if t is None else len(t.encode())
                        for t in pdf["text"]
                    ],
                }
            )

    rt = enc.mapInPandas(
        rebuild, "doc_id long, rt string, n_tok long, n_bytes long"
    )
    rt = rt.cache()
    tot = rt.agg(
        F.sum("n_tok").alias("t"), F.sum("n_bytes").alias("b")
    ).collect()[0]
    if not (tot["t"] and tot["b"] and tot["t"] < tot["b"]):
        raise AssertionError(
            f"q184: merges must compress ({tot['t']} !< {tot['b']})"
        )
    return rt.select(
        "doc_id", F.md5(F.encode("rt", "UTF-8")).alias("rt_md5")
    ).orderBy("doc_id")


@_declare(
    "q185_bpe_base_token_law",
    """
    SELECT doc_id,
           strlen(text) AS n_tok,
           strlen(text) AS tok_bytes
    FROM documents ORDER BY doc_id
    """,
)
def q185(spark, sf_dir):
    """The zero-merge BPE law: a base tokenizer (vocab 256, no learned
    merges) must emit EXACTLY one token per UTF-8 byte, and the
    tokens' total byte length must equal the document's byte length —
    both recomputed by DuckDB as strlen(text).  Pins the
    pre-tokenizer's conservation property (regex partition of the
    input: contractions, letter/digit/punct runs, kept whitespace)
    and the Arrow encode stage's null/empty handling, independent of
    training."""
    from ..operators import bpe

    # r11: scatter the single-row-group scan — the Arrow encode stage
    # otherwise runs as ONE task (finding 1)
    docs = load_table(spark, sf_dir, "documents", scatter=True).select(
        "doc_id", "text"
    )
    tok = bpe.BPETokenizer([])
    enc = bpe.encode_column(docs, tok, "text")
    return (
        enc.select(
            "doc_id",
            F.col("tokens_n").alias("n_tok"),
            F.aggregate(
                "tokens",
                F.lit(0).cast("long"),
                lambda acc, t: acc + F.octet_length(t),
            ).alias("tok_bytes"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Q186: REAL FLAC decode — lossless, so the closed-form PCM is exact
# --------------------------------------------------------------------------
@_declare(
    "q186_flac_audio_features",
    """
    WITH b AS (SELECT doc_id FROM documents WHERE doc_id < 150),
    s AS (SELECT b.doc_id, i.i,
            TRUNC(0.4 * sin(2 * pi() * (80 + (b.doc_id % 30) * 15)
                            * i.i / 16000) * 32767) / 32768.0 xl,
            TRUNC(0.4 * sin(2 * pi() * (80 + (b.doc_id % 30) * 15)
                            * i.i / 16000 + 1.0) * 32767) / 32768.0 xr
          FROM b, (SELECT unnest(range(0, 2000)) i) i),
    z AS (SELECT doc_id, i, xl, xr, (xl + xr) / 2 m,
                 LAG((xl + xr) / 2) OVER (PARTITION BY doc_id ORDER BY i) pm
          FROM s)
    SELECT doc_id media_id, CAST(16000 AS INT) sample_rate,
           CAST(2 AS INT) channels, CAST(125 AS BIGINT) duration_ms,
           ROUND(SQRT(AVG((xl * xl + xr * xr) / 2)), 4) + 0 rms,
           ROUND(AVG(CASE WHEN pm IS NULL THEN NULL
                          WHEN (m < 0) <> (pm < 0) THEN 1.0
                          ELSE 0.0 END), 4) + 0 zcr
    FROM z GROUP BY doc_id ORDER BY media_id
    """,
)
def q186(spark, sf_dir):
    """REAL compressed-audio decode in the pipeline: synthesize a
    deterministic STEREO tone pair per document (left/right sines with
    a fixed phase offset), compress with the from-spec FLAC encoder
    (operators/flac_codec — LPC fitting, Rice partitions, per-frame
    stereo-decorrelation planning, 4 frames at block_size=512), and
    decode through the real parser (frame-header CRC-8, whole-frame
    CRC-16, and STREAMINFO PCM-MD5 all VERIFIED on this path).
    Because FLAC is lossless, every decoded sample equals the int16
    truncation of the closed-form sine, so the DuckDB oracle
    re-derives RMS and mono-mixdown zero-crossing rate arithmetically
    — a hash match proves the whole entropy-decode → prediction →
    decorrelation pipeline to the bit (the same lossless-oracle trick
    as GIF/PNG/WAV; an off-by-one anywhere in Rice quotients, warmup
    handling, or mid/side reconstruction breaks it).  Both stages are
    Arrow-batched mapInPandas, no shuffle."""
    from ..operators.multimodal import extract_flac_features

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 150)
        # the synth+encode stage is CPU-bound (LPC fits + Rice planning
        # per payload); the 150-row input arrives as ONE parquet split,
        # so spread it — at real scale the media table's own splits
        # provide this parallelism and the repartition disappears
        .repartition(16)
    )

    def synth(batches):
        import math as _m

        import numpy as _np
        import pandas as _pd

        from django_datastream_spark.operators.flac_codec import (
            encode_flac,
        )

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                sr = 16000
                freq = 80.0 + (int(did) % 30) * 15.0
                i = _np.arange(2000)
                w = 2 * _m.pi * freq / sr
                xl = (0.4 * _np.sin(w * i) * 32767).astype(_np.int64)
                xr = (0.4 * _np.sin(w * i + 1.0) * 32767).astype(
                    _np.int64
                )
                st = _np.stack([xl, xr], axis=1)
                payloads.append(encode_flac(st, sr, block_size=512))
            yield _pd.DataFrame(
                {"media_id": pdf["doc_id"], "content": payloads}
            )

    media = docs.mapInPandas(synth, "media_id long, content binary")
    feats = extract_flac_features(media)
    return feats.select(
        "media_id",
        "sample_rate",
        "channels",
        "duration_ms",
        (F.round("rms", 4) + F.lit(0.0)).alias("rms"),
        (F.round("zcr", 4) + F.lit(0.0)).alias("zcr"),
    ).orderBy("media_id")


# --------------------------------------------------------------------------
# Q187: WARC shard ingest (Common Crawl layout) — md5-exact body oracle
# --------------------------------------------------------------------------
@_declare(
    "q187_warc_ingest",
    """
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) body_len,
           md5(text) body_md5,
           CAST(200 AS INT) http_status
    FROM documents WHERE doc_id < 300 AND text IS NOT NULL
    ORDER BY doc_id
    """,
)
def q187(spark, sf_dir):
    """WARC ingest end to end: documents are packed 10-per-shard into
    genuine WARC/1.0 shards (response records wrapping an HTTP/1.1
    payload; EVEN shards use Common Crawl's per-record-gzip-member
    layout, odd shards plain — both real-world framings in one gate),
    then parsed back by the Arrow-batched flat-map source
    (sources/warc.read_warc_records: CRLF framing, Content-Length
    bodies, gzip-member loop, HTTP status/header split).  The DuckDB
    oracle recomputes each record's body length and md5 from the
    source text, so a hash match proves byte-exact extraction through
    shard packing, gzip, WARC framing, and HTTP splitting.  Scale
    shape: pack is one applyInPandas over shard groups, parse is a
    shuffle-free flat-map over shard rows — exactly how a 100 TB
    crawl lands."""
    from ..sources.warc import build_warc, read_warc_records

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter((F.col("doc_id") < 300) & F.col("text").isNotNull())
        .withColumn("shard_id", (F.col("doc_id") / 10).cast("long"))
    )

    def pack(pdf):
        import pandas as pd

        sid = int(pdf["shard_id"].iloc[0])
        recs = []
        for _, row in pdf.sort_values("doc_id").iterrows():
            recs.append(
                {
                    "warc_type": "response",
                    "target_uri": f"http://corpus.test/doc/{int(row['doc_id'])}",
                    "warc_date": "2024-03-01T00:00:00Z",
                    "record_id": f"<urn:uuid:{int(row['doc_id']):032x}>",
                    "http_status": 200,
                    "http_content_type": "text/plain; charset=utf-8",
                    "body": str(row["text"]).encode("utf-8"),
                }
            )
        shard = build_warc(recs, gzip_members=(sid % 2 == 0))
        return pd.DataFrame({"shard_id": [sid], "content": [shard]})

    shards = docs.groupBy("shard_id").applyInPandas(
        pack, "shard_id long, content binary"
    )
    recs = read_warc_records(shards)
    return (
        recs.filter(F.col("parse_err").isNull())
        .select(
            F.regexp_extract("target_uri", r"doc/(\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("body_len"),
            F.md5("body").alias("body_md5"),
            "http_status",
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Q188: WebDataset (tar) shard ingest + sample reassembly — md5 oracle
# --------------------------------------------------------------------------
@_declare(
    "q188_webdataset_ingest",
    """
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) txt_len,
           md5(text) txt_md5,
           lang cls
    FROM documents WHERE doc_id < 240 AND text IS NOT NULL
    ORDER BY doc_id
    """,
)
def q188(spark, sf_dir):
    """WebDataset ingest end to end: documents pack 8-per-shard into
    POSIX tar shards (two members per sample — ``{id}.txt`` payload
    and ``{id}.cls`` label, the WebDataset pairing rule; every third
    shard is gzipped), then the flat-map source
    (sources/tar.read_webdataset) streams members back out and a
    groupBy(sample_key) PIVOTS them into samples — the reassembly a
    multimodal training loader performs, done as ONE narrow
    aggregation whose width is members-per-sample, never corpus size.
    DuckDB recomputes each sample's text length, md5, and label from
    the source table, so a hash match proves byte-exact member
    extraction and correct first-dot key grouping through tar (and
    gzip) framing."""
    from ..sources.tar import build_webdataset, read_webdataset

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang")
        .filter((F.col("doc_id") < 240) & F.col("text").isNotNull())
        .withColumn("shard_id", (F.col("doc_id") / 8).cast("long"))
    )

    def pack(pdf):
        import pandas as pd

        sid = int(pdf["shard_id"].iloc[0])
        members = []
        for _, row in pdf.sort_values("doc_id").iterrows():
            did = int(row["doc_id"])
            members.append(
                (f"{did:08d}.txt", str(row["text"]).encode("utf-8"))
            )
            members.append(
                (f"{did:08d}.cls", str(row["lang"]).encode("utf-8"))
            )
        shard = build_webdataset(members, gzipped=(sid % 3 == 0))
        return pd.DataFrame({"shard_id": [sid], "content": [shard]})

    shards = docs.groupBy("shard_id").applyInPandas(
        pack, "shard_id long, content binary"
    )
    members = read_webdataset(shards).filter(F.col("parse_err").isNull())
    samples = members.groupBy("sample_key").agg(
        F.max(
            F.when(F.col("ext") == "txt", F.col("member_len"))
        ).alias("txt_len"),
        F.max(
            F.when(F.col("ext") == "txt", F.md5("member_bytes"))
        ).alias("txt_md5"),
        F.max(
            F.when(
                F.col("ext") == "cls",
                F.col("member_bytes").cast("string"),
            )
        ).alias("cls"),
    )
    return samples.select(
        F.col("sample_key").cast("long").alias("doc_id"),
        "txt_len",
        "txt_md5",
        "cls",
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Q189: tokenize -> fixed-length block packing, byte-exact block oracle
# --------------------------------------------------------------------------
@_declare(
    "q189_token_block_packing",
    """
    WITH d AS (SELECT doc_id, text FROM documents
               WHERE doc_id < 240 AND text IS NOT NULL),
    corpus AS (SELECT string_agg(text, '' ORDER BY doc_id) c,
                      SUM(strlen(text)) tot FROM d),
    off AS (SELECT doc_id, strlen(text) n,
                   SUM(strlen(text)) OVER (ORDER BY doc_id)
                     - strlen(text) s
            FROM d),
    blocks AS (SELECT i.i b, substr(c, CAST(i.i * 512 + 1 AS BIGINT),
                                    512) blk
               FROM corpus,
                    (SELECT unnest(range(0, CAST(ceil(tot / 512.0) AS
                                                 BIGINT)))
                     FROM corpus) i(i)),
    span AS (SELECT b.b,
                    CAST(COUNT(*) AS BIGINT) n_docs,
                    MIN(o.doc_id) first_doc
             FROM blocks b
             JOIN off o
               ON o.s < b.b * 512 + strlen(b.blk)
              AND o.s + o.n > b.b * 512
             GROUP BY b.b)
    SELECT b.b block_id,
           CAST(strlen(b.blk) AS BIGINT) n_tokens,
           s.n_docs, s.first_doc,
           md5(b.blk) block_md5
    FROM blocks b JOIN span s ON b.b = s.b
    ORDER BY block_id
    """,
)
def q189(spark, sf_dir):
    """The pretraining data layout, end to end: tokenize documents
    (byte-level BPE base vocabulary so the DuckDB oracle can rebuild
    the token stream as raw bytes), concatenate the corpus in doc_id
    order, and pack it into fixed 512-token training blocks with
    documents SPLIT across block boundaries
    (operators/bpe.pack_token_blocks).  Everything after the Arrow
    encode stage is JVM-side: a DISTRIBUTED prefix sum for document
    start offsets (range partition -> per-partition cumsum ->
    partition-base add; the partition-totals collect is O(#partitions)
    at any corpus size — no single-partition window), a linear
    posexplode to token granularity, and one groupBy(block) whose keys
    are uniform by construction.  The oracle rebuilds every block from
    the corpus string with byte substrings (the corpus is ASCII at all
    SFs, verified, so VARCHAR substr == byte substr) — block md5s,
    token counts, and doc-span counts must all hash-match.  Builder
    runs the offsets collect (two-pass prefix sum), so it sits in the
    no-jobs-at-build exemption family."""
    from ..operators import bpe

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter((F.col("doc_id") < 240) & F.col("text").isNotNull())
    )
    tok = bpe.BPETokenizer([])  # base vocab: token == byte, oracle-able
    enc = bpe.encode_column(docs, tok, "text")
    blocks = bpe.pack_token_blocks(enc, seq_len=512)
    return blocks.select(
        "block_id",
        "n_tokens",
        "n_docs",
        "first_doc",
        F.md5("block_bytes").alias("block_md5"),
    ).orderBy("block_id")


# --------------------------------------------------------------------------
# Q190: k-core decomposition — constructed graph, closed-form cores
# --------------------------------------------------------------------------
@_declare(
    "q190_k_core",
    """
    SELECT doc_id AS node,
           CAST(CASE WHEN doc_id % 12 < s THEN s - 1
                     WHEN 12 - s >= 3 THEN 2
                     ELSE 1 END AS INT) core
    FROM (SELECT doc_id, 3 + ((doc_id // 12) % 6) s
          FROM documents WHERE doc_id < 240)
    ORDER BY node
    """,
)
def q190(spark, sf_dir):
    """Core decomposition (operators/graph.k_core — distributed
    peeling with lineage-truncated rounds) verified BY CONSTRUCTION:
    240 nodes form 20 disjoint groups of 12; the first s = 3 +
    (group % 6) nodes of each group are a CLIQUE (core exactly s-1),
    the remaining 12-s nodes a CYCLE (core exactly 2) or, when only
    two remain, a single EDGE (core 1).  Every core number is a
    closed form of doc_id, so the DuckDB oracle needs no graph
    algorithm at all — peel-order bugs, the isolated-mid-peel node
    case (cycle nodes isolate their neighbours as they unravel), and
    off-by-one core assignment all break the hash.  Builder runs the
    driver-side peel fixpoint (q45 exemption family: Spark has no
    recursive SQL, the convergence loop IS the operator)."""
    from ..operators.graph import k_core

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 240)
        .withColumn("g", F.floor(F.col("doc_id") / 12))
        .withColumn("p", F.col("doc_id") % 12)
        .withColumn("s", (F.lit(3) + F.col("g") % 6).cast("long"))
    )
    u, v = d.alias("u"), d.alias("v")
    clique = u.join(
        v,
        (F.col("u.g") == F.col("v.g"))
        & (F.col("u.p") < F.col("v.p"))
        & (F.col("v.p") < F.col("u.s")),
    ).select(
        F.col("u.doc_id").alias("a"), F.col("v.doc_id").alias("b")
    )
    ring = d.filter(F.col("p") >= F.col("s")).select(
        F.col("doc_id").alias("a"),
        (
            F.col("g") * 12
            + F.col("s")
            + (F.col("p") - F.col("s") + 1) % (F.lit(12) - F.col("s"))
        ).alias("b"),
    )
    edges = (
        clique.unionByName(ring)
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )
    return k_core(edges).orderBy("node")


# --------------------------------------------------------------------------
# Q191: WARC -> HTML -> text extraction, the crawl-to-corpus pipeline
# --------------------------------------------------------------------------
@_declare(
    "q191_html_text_extraction",
    """
    SELECT doc_id,
           'Doc ' || CAST(doc_id AS VARCHAR) AS title,
           md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS text_md5,
           CAST(2 AS INT) n_links
    FROM documents WHERE doc_id < 300 AND text IS NOT NULL
    ORDER BY doc_id
    """,
)
def q191(spark, sf_dir):
    """The crawl-to-corpus pipeline end to end: each document becomes
    a full HTML page (title, nav boilerplate, script/style noise, the
    text in a <p>, two links), pages pack into WARC response shards
    (gzip members on even shards), the WARC source streams the records
    back out, and functions/html.extract_html_text recovers the prose
    — boilerplate stripped, entities decoded, whitespace normalized
    the way every extractor normalizes.  The DuckDB oracle applies the
    SAME normalization (trim + collapse runs of whitespace) to the
    source text, so the md5 match proves script/style subtrees leak
    nothing, block segmentation reassembles the paragraph exactly, and
    the WARC/HTTP framing is byte-clean underneath.  Titles and link
    counts are closed forms.  Three Arrow flat-map stages, one narrow
    join — no shuffle beyond the shard pack."""
    from ..functions.html import extract_html_text
    from ..sources.warc import build_warc, read_warc_records

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter((F.col("doc_id") < 300) & F.col("text").isNotNull())
        .withColumn("shard_id", (F.col("doc_id") / 10).cast("long"))
    )

    def pack(pdf):
        import html as _html

        import pandas as pd

        sid = int(pdf["shard_id"].iloc[0])
        recs = []
        for _, row in pdf.sort_values("doc_id").iterrows():
            did = int(row["doc_id"])
            page = (
                f"<html><head><title>Doc {did}</title>"
                "<style>p { margin: 0 }</style>"
                "<script>trackPageView();</script></head>"
                "<body><nav><a href='/home'></a><a href='/next'></a>"
                f"</nav><p>{_html.escape(str(row['text']))}</p>"
                "</body></html>"
            )
            recs.append(
                {
                    "warc_type": "response",
                    "target_uri": f"http://corpus.test/page/{did}",
                    "http_status": 200,
                    "http_content_type": "text/html; charset=utf-8",
                    "body": page.encode("utf-8"),
                }
            )
        return pd.DataFrame(
            {
                "shard_id": [sid],
                "content": [build_warc(recs, gzip_members=(sid % 2 == 0))],
            }
        )

    shards = docs.groupBy("shard_id").applyInPandas(
        pack, "shard_id long, content binary"
    )
    recs = read_warc_records(shards).filter(F.col("parse_err").isNull())
    pages = recs.select(
        F.regexp_extract("target_uri", r"page/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("body").cast("string").alias("html"),
    )
    ext = extract_html_text(pages, "html", "doc_id")
    return (
        ext.filter(F.col("parse_err").isNull())
        .select(
            "doc_id",
            "title",
            F.md5(F.encode("text", "UTF-8")).alias("text_md5"),
            "n_links",
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Q192: URL canonicalization — constructed messy URLs, closed-form clean
# --------------------------------------------------------------------------
@_declare(
    "q192_url_canonicalization",
    """
    SELECT doc_id,
           'http://www' || CAST(doc_id % 5 AS VARCHAR)
             || '.example.com/cat/item/' || CAST(doc_id AS VARCHAR)
             || '?a=' || CAST(doc_id % 3 AS VARCHAR) || '&b=1'
             AS canonical_url,
           'example.com' AS domain
    FROM documents WHERE doc_id < 400 ORDER BY doc_id
    """,
)
def q192(spark, sf_dir):
    """URL canonicalization (functions/urls — the crawl-dedup key):
    each doc_id constructs a deliberately MESSY absolute URL —
    uppercase scheme/host, explicit default port, dot-segments in the
    path, unsorted query with a tracking parameter, a fragment — and
    the canonicalizer must reduce every one to the closed-form clean
    URL the DuckDB oracle spells with string concatenation.  Pins
    scheme/host lowercasing, :80 stripping, /cat/N/../ resolution
    (note the resolved path is independent of the junk segment),
    tracking-param drop, parameter sorting, and fragment removal in
    one hash.  Registrable-domain extraction rides along as a
    constant.  Map-only Arrow stage, no shuffle."""
    from ..functions.urls import canonicalize_urls

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 400)
        .withColumn(
            "url",
            F.concat(
                F.lit("HTTP://WWW"),
                (F.col("doc_id") % 5).cast("string"),
                F.lit(".Example.COM:80/cat/"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit("/../item/"),
                F.col("doc_id").cast("string"),
                F.lit("?utm_source=feed&b=1&a="),
                (F.col("doc_id") % 3).cast("string"),
                F.lit("#frag"),
            ),
        )
    )
    return (
        canonicalize_urls(docs, "url")
        .select("doc_id", "canonical_url", "domain")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Q193: the WHOLE corpus-build pipeline in one DAG, end-to-end oracle
# --------------------------------------------------------------------------
@_declare(
    "q193_crawl_to_training_blocks",
    """
    WITH raw AS (
      SELECT doc_id,
             doc_id % 200 AS page,
             trim(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
      FROM documents WHERE doc_id < 240 AND text IS NOT NULL),
    dedup AS (
      SELECT * FROM raw
      WHERE doc_id = (SELECT MIN(r2.doc_id) FROM raw r2
                      WHERE r2.page = raw.page)),
    kept AS (SELECT doc_id, norm FROM dedup WHERE strlen(norm) >= 150),
    corpus AS (SELECT string_agg(norm, '' ORDER BY doc_id) c,
                      SUM(strlen(norm)) tot FROM kept),
    off AS (SELECT doc_id, strlen(norm) n,
                   SUM(strlen(norm)) OVER (ORDER BY doc_id)
                     - strlen(norm) s
            FROM kept),
    blocks AS (SELECT i.i b, substr(c, CAST(i.i * 256 + 1 AS BIGINT),
                                    256) blk
               FROM corpus,
                    (SELECT unnest(range(0, CAST(ceil(tot / 256.0)
                                                 AS BIGINT)))
                     FROM corpus) i(i)),
    span AS (SELECT b.b, CAST(COUNT(*) AS BIGINT) n_docs,
                    MIN(o.doc_id) first_doc
             FROM blocks b JOIN off o
               ON o.s < b.b * 256 + strlen(b.blk)
              AND o.s + o.n > b.b * 256
             GROUP BY b.b)
    SELECT b.b block_id, CAST(strlen(b.blk) AS BIGINT) n_tokens,
           s.n_docs, s.first_doc, md5(b.blk) block_md5
    FROM blocks b JOIN span s ON b.b = s.b
    ORDER BY block_id
    """,
)
def q193(spark, sf_dir):
    """The COMPLETE crawl-to-training-data pipeline as ONE Spark DAG —
    every stage a round-7 operator, the final block hashes pinned end
    to end:

      1. docs -> full HTML pages inside WARC response shards (even
         shards gzip-membered), with DELIBERATE URL collisions: page
         id = doc_id % 200, so 40 of 240 docs are crawl duplicates;
      2. sources/warc.read_warc_records parses the shards;
      3. functions/html.extract_html_text strips
         title/nav/script/style boilerplate and normalizes
         whitespace;
      4. functions/urls.canonicalize_urls reduces the messy target
         URIs (case, :80, dot-segments, utm params) to the crawl
         dedup key; groupBy(canonical) keeps the min-doc_id fetch —
         exact URL-level dedup;
      5. a quality gate keeps documents with >= 150 normalized chars;
      6. survivors tokenize (byte-level BPE base vocab) and pack into
         256-token training blocks via the distributed prefix sum
         (operators/bpe.pack_token_blocks).

    The DuckDB oracle recomputes the SAME pipeline declaratively
    (normalization, modular-page dedup, length gate, corpus concat,
    byte substrings), so the final md5s certify every operator AND
    their composition — a wrong survivor set, a dropped space, or an
    off-by-one block boundary all break the hash.  Builder runs the
    prefix-sum collect (q189 exemption family)."""
    from ..functions.html import extract_html_text
    from ..functions.urls import canonicalize_urls
    from ..operators import bpe
    from ..sources.warc import build_warc, read_warc_records

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter((F.col("doc_id") < 240) & F.col("text").isNotNull())
        .withColumn("shard_id", (F.col("doc_id") / 10).cast("long"))
    )

    def pack(pdf):
        import html as _html

        import pandas as pd

        sid = int(pdf["shard_id"].iloc[0])
        recs = []
        for _, row in pdf.sort_values("doc_id").iterrows():
            did = int(row["doc_id"])
            page = (
                f"<html><head><title>Page {did % 200}</title>"
                "<script>t();</script></head><body>"
                "<nav><a href='/home'></a></nav>"
                f"<p>{_html.escape(str(row['text']))}</p></body></html>"
            )
            recs.append(
                {
                    "warc_type": "response",
                    "target_uri": (
                        f"HTTP://Corpus.TEST:80/x/../page/{did % 200}"
                        "?utm_source=crawl"
                    ),
                    "record_id": f"<urn:doc:{did}>",
                    "http_status": 200,
                    "http_content_type": "text/html; charset=utf-8",
                    "body": page.encode("utf-8"),
                }
            )
        return pd.DataFrame(
            {
                "shard_id": [sid],
                "content": [build_warc(recs, gzip_members=(sid % 2 == 0))],
            }
        )

    shards = docs.groupBy("shard_id").applyInPandas(
        pack, "shard_id long, content binary"
    )
    recs = (
        read_warc_records(shards)
        .filter(F.col("parse_err").isNull())
        .select(
            F.regexp_extract("record_id", r"urn:doc:(\d+)", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("target_uri").alias("url"),
            F.col("body").cast("string").alias("html"),
        )
    )
    ext = extract_html_text(
        recs.select("doc_id", "html"), "html", "doc_id"
    ).filter(F.col("parse_err").isNull())
    urls = canonicalize_urls(
        recs.select("doc_id", "url"), "url"
    ).select("doc_id", "canonical_url")
    pages = ext.join(urls, "doc_id")
    # URL-level dedup: the min-doc_id fetch of each canonical URL wins
    winners = pages.groupBy("canonical_url").agg(
        F.min("doc_id").alias("doc_id")
    )
    kept = (
        pages.join(winners, ["canonical_url", "doc_id"])
        .filter(F.octet_length("text") >= 150)
        .select("doc_id", "text")
    )
    tok = bpe.BPETokenizer([])  # base vocab: token == byte, oracle-able
    enc = bpe.encode_column(kept, tok, "text")
    blocks = bpe.pack_token_blocks(enc, seq_len=256)
    return blocks.select(
        "block_id",
        "n_tokens",
        "n_docs",
        "first_doc",
        F.md5("block_bytes").alias("block_md5"),
    ).orderBy("block_id")


# --------------------------------------------------------------------------
# Q194: REAL BMP/RLE8 decode — lossless, closed-form palette oracle
# --------------------------------------------------------------------------
@_declare(
    "q194_bmp_rle8_stats",
    """
    WITH px AS (
      SELECT d.doc_id,
             ((d.doc_id + r.r * 2 + c.c // 5) % 24) ix
      FROM (SELECT doc_id FROM documents WHERE doc_id < 150) d
      CROSS JOIN (SELECT unnest(range(0, 12)) r) r
      CROSS JOIN (SELECT unnest(range(0, 30)) c) c),
    ch AS (SELECT doc_id,
                  (ix * 9) % 256 pr,
                  (ix * 9 + 40) % 256 pg,
                  (ix * 9 + 80) % 256 pb
           FROM px),
    lm AS (SELECT doc_id, pr, pg, pb,
                  0.299 * pr + 0.587 * pg + 0.114 * pb luma
           FROM ch)
    SELECT doc_id media_id,
           CAST(30 AS INT) width, CAST(12 AS INT) height,
           ROUND(AVG(pr * 1.0), 4) mean_r,
           ROUND(AVG(pg * 1.0), 4) mean_g,
           ROUND(AVG(pb * 1.0), 4) mean_b,
           ROUND(AVG(luma), 4) luma_mean,
           ROUND(SQRT(AVG(luma * luma) - AVG(luma) * AVG(luma)), 4)
             luma_std
    FROM lm GROUP BY doc_id ORDER BY doc_id
    """,
)
def q194(spark, sf_dir):
    """REAL BMP decode with RLE8 decompression, exactly verified: each
    document gets a 30x12 paletted image whose index at (r, c) is a
    closed form with 5-pixel horizontal runs (so the RLE encoder emits
    real run packets, 255-splits, absolute-mode literals at run
    boundaries, per-row EOL and the final EOB), the palette maps index
    i to closed-form RGB, and the true bottom-up row order must be
    undone.  BMP+RLE8 is lossless, so the DuckDB oracle recounts every
    channel arithmetically — a wrong run length, a missed word
    alignment in absolute mode, or an un-flipped row order breaks the
    hash (the same construction discipline as the GIF/PNG oracles).
    Map-only: synth and decode are Arrow-batched stages."""
    from ..operators.multimodal import extract_image_features

    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 150
    )

    def synth(batches):
        import numpy as _np
        import pandas as _pd

        from django_datastream_spark.operators.media_codecs import (
            encode_bmp_rle8,
        )

        pal = _np.stack(
            [
                (_np.arange(24) * 9) % 256,
                (_np.arange(24) * 9 + 40) % 256,
                (_np.arange(24) * 9 + 80) % 256,
            ],
            axis=1,
        ).astype(_np.uint8)
        r = _np.arange(12)[:, None]
        c = _np.arange(30)[None, :]
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                ix = ((int(did) + r * 2 + c // 5) % 24).astype(_np.uint8)
                payloads.append(encode_bmp_rle8(ix, pal))
            yield _pd.DataFrame(
                {"media_id": pdf["doc_id"], "content": payloads}
            )

    media = docs.mapInPandas(synth, "media_id long, content binary")
    feats = extract_image_features(media, "bmp")
    return feats.select(
        "media_id", "width", "height",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
        F.round("luma_mean", 4).alias("luma_mean"),
        F.round("luma_std", 4).alias("luma_std"),
    ).orderBy("media_id")


# --------------------------------------------------------------------------
# Q195: mojibake repair — planted cp1252 damage, md5-exact restoration
# --------------------------------------------------------------------------
@_declare(
    "q195_mojibake_repair",
    """
    SELECT doc_id,
           md5(text || ' Café — déjà vu €9') AS fixed_md5,
           CAST(TRUE AS BOOLEAN) was_fixed
    FROM documents WHERE doc_id < 400 AND text IS NOT NULL
    ORDER BY doc_id
    """,
)
def q195(spark, sf_dir):
    """Encoding repair in the gate: every document gets the CLASSIC
    corruption appended — ``' Café — déjà vu €9'`` as its UTF-8 bytes
    misread through cp1252 (``' CafÃ© â€” dÃ©jÃ\\xa0 vu â‚¬9'``, em
    dash and euro exercising the 0x80–0x9F cp1252-only range) — and
    functions/encoding.repair_text_encoding must restore the exact
    clean suffix while leaving the ASCII body untouched.  The DuckDB
    oracle hashes the clean concatenation directly, so the md5 match
    proves the inverse round trip repairs precisely the damaged bytes
    and nothing else; ``was_fixed`` must be TRUE on every row (the
    appended damage guarantees a repair fires).  Map-only Arrow
    stage, no shuffle."""
    from ..functions.encoding import repair_text_encoding

    moji = "Café — déjà vu €9".encode("utf-8").decode("cp1252")
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter((F.col("doc_id") < 400) & F.col("text").isNotNull())
        .withColumn("text", F.concat("text", F.lit(" " + moji)))
    )
    rep = repair_text_encoding(docs, "text")
    return rep.select(
        "doc_id",
        F.md5(F.encode("text_fixed", "UTF-8")).alias("fixed_md5"),
        "was_fixed",
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Q196: EXIF extract + GPS strip — the image-privacy pass, exact oracle
# --------------------------------------------------------------------------
@_declare(
    "q196_exif_extract_strip",
    """
    SELECT doc_id,
           CAST(doc_id % 8 + 1 AS INT) orientation,
           '2024:03:01 12:00:' || lpad(CAST(doc_id % 60 AS VARCHAR),
                                       2, '0') taken_at,
           (doc_id % 90) + 0.25 gps_lat,
           -((doc_id % 180) + 0.5) gps_lon,
           CAST(TRUE AS BOOLEAN) gps_stripped
    FROM documents WHERE doc_id < 200 ORDER BY doc_id
    """,
)
def q196(spark, sf_dir):
    """The image-privacy pass, end to end: each document gets a real
    JPEG carrying a genuine APP1/Exif segment (TIFF IFDs, alternating
    II/MM byte orders, GPS sub-IFD with hemisphere refs + D/M/S
    rationals chosen so the decimal recovery is EXACT — .25 deg = 15
    min, .5 deg = 30 min), operators/exif parses orientation,
    timestamp, and signed-decimal GPS, then strip_exif removes the
    segment by surgery and a second parse must find NOTHING
    (gps_stripped pinned TRUE via the re-parse, not trust).  All
    metadata is a closed form of doc_id, so the DuckDB oracle spells
    the expected values directly; a wrong IFD offset, a byte-order
    slip, or a DMS sign error breaks the hash.  Two Arrow stages plus
    one narrow join, no shuffle beyond it."""
    from ..operators.exif import (
        build_exif_app1,
        extract_exif,
        insert_app1,
        strip_exif_column,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 200
    )

    def synth(batches):
        import numpy as _np
        import pandas as _pd

        from django_datastream_spark.operators.jpeg_codec import (
            encode_gray_from_coeffs,
        )

        q = _np.zeros((1, 1, 8, 8), _np.int64)
        q[0, 0, 0, 0] = 3
        base = encode_gray_from_coeffs(q)
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                app1 = build_exif_app1(
                    make="SynthCam",
                    orientation=did % 8 + 1,
                    datetime=f"2024:03:01 12:00:{did % 60:02d}",
                    gps=((did % 90) + 0.25, -((did % 180) + 0.5)),
                    byte_order="II" if did % 2 == 0 else "MM",
                )
                payloads.append(insert_app1(base, app1))
            yield _pd.DataFrame(
                {"media_id": pdf["doc_id"], "content": payloads}
            )

    media = docs.mapInPandas(synth, "media_id long, content binary")
    tagged = extract_exif(media).select(
        F.col("media_id").alias("doc_id"),
        "orientation",
        "taken_at",
        "gps_lat",
        "gps_lon",
    )
    scrubbed = extract_exif(
        strip_exif_column(media).select("media_id", "content")
    ).select(
        F.col("media_id").alias("doc_id"),
        (F.col("gps_lat").isNull() & F.col("gps_lon").isNull()
         & F.col("orientation").isNull()).alias("gps_stripped"),
    )
    return tagged.join(scrubbed, "doc_id").orderBy("doc_id")


# --------------------------------------------------------------------------
# Q197: PDF text extraction — built PDFs, md5-exact text recovery
# --------------------------------------------------------------------------
@_declare(
    "q197_pdf_text_extraction",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS text_md5
    FROM documents WHERE doc_id < 300 AND text IS NOT NULL
    ORDER BY doc_id
    """,
)
def q197(spark, sf_dir):
    """PDF ingestion for a document corpus: each document's text
    word-wraps into 72-column lines, pages of 12 lines, and becomes a
    GENUINE PDF 1.4 (operators/pdf_codec.build_simple_pdf — real
    object graph, Flate content streams, valid xref), then the
    extractor walks Catalog→Pages→Kids→Contents, inflates the
    streams, interprets the BT/Tj/T* text operators, and the lines
    rejoin with single spaces.  Because greedy wrapping splits ONLY
    at whitespace, the rejoined text equals the whitespace-collapsed
    source exactly, and the DuckDB oracle applies the same collapse —
    an md5 match certifies object scanning, stream extents under
    binary Flate data, string unescaping, and page ordering in one
    hash.  Two Arrow stages, no shuffle."""
    from ..operators.pdf_codec import (
        build_simple_pdf,
        extract_pdf_text_column,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter((F.col("doc_id") < 300) & F.col("text").isNotNull())
    )

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for t in pdf["text"]:
                words = str(t).split()
                lines, cur = [], ""
                for w in words:
                    if cur and len(cur) + 1 + len(w) > 72:
                        lines.append(cur)
                        cur = w
                    else:
                        cur = f"{cur} {w}" if cur else w
                if cur:
                    lines.append(cur)
                pages = [
                    lines[i : i + 12] for i in range(0, len(lines), 12)
                ] or [[]]
                payloads.append(build_simple_pdf(pages))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "content": payloads}
            )

    pdfs = docs.mapInPandas(synth, "doc_id long, content binary")
    ext = extract_pdf_text_column(pdfs).filter(
        F.col("parse_err").isNull()
    )
    rejoined = F.regexp_replace(
        F.regexp_replace("text", r"[\n\f]", " "), r"\s+", " "
    )
    return ext.select(
        "doc_id",
        F.md5(F.encode(F.trim(rejoined), "UTF-8")).alias("text_md5"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Q198: product quantization — exact-on-codebook-points ADC oracle
# --------------------------------------------------------------------------
@_declare(
    "q198_pq_adc_topk",
    """
    WITH v AS (
      SELECT doc_id,
             CASE doc_id % 4 WHEN 0 THEN 1.0 WHEN 1 THEN 0.0
                             WHEN 2 THEN -1.0 ELSE 0.5 END x1,
             CASE doc_id % 4 WHEN 0 THEN 0.0 WHEN 1 THEN 1.0
                             WHEN 2 THEN 0.0 ELSE 0.5 END x2,
             CASE (doc_id // 4) % 4 WHEN 0 THEN 2.0 WHEN 1 THEN 0.0
                                    WHEN 2 THEN 1.0 ELSE -2.0 END x3,
             CASE (doc_id // 4) % 4 WHEN 0 THEN 0.0 WHEN 1 THEN 2.0
                                    WHEN 2 THEN 1.0 ELSE 0.0 END x4
      FROM documents WHERE doc_id < 64),
    scored AS (
      SELECT q.doc_id query_id, c.doc_id neighbor_id,
             q.x1*c.x1 + q.x2*c.x2 + q.x3*c.x3 + q.x4*c.x4 adc_score,
             ROW_NUMBER() OVER (
               PARTITION BY q.doc_id
               ORDER BY q.x1*c.x1 + q.x2*c.x2 + q.x3*c.x3 + q.x4*c.x4
                        DESC, c.doc_id ASC) rk
      FROM (SELECT * FROM v WHERE doc_id < 16) q
      JOIN v c ON c.doc_id <> q.doc_id)
    SELECT query_id, CAST(rk AS INT) rank, neighbor_id, adc_score
    FROM scored WHERE rk <= 3
    ORDER BY query_id, rank
    """,
)
def q198(spark, sf_dir):
    """Product quantization in the gate, EXACTLY oracled: vectors are
    constructed ON the codebook points (each of 64 docs concatenates
    one codeword from each of two subspace books), so PQ encoding is
    lossless and the asymmetric-distance (ADC) score equals the true
    dot product — DuckDB recomputes the whole top-3 by brute-force
    arithmetic, ties broken by neighbor id exactly as the operator
    does.  A wrong nearest-codeword assignment, a LUT built against
    the wrong subspace, or an off-by-one in the batch top-k merge all
    break the hash.  (Recall of TRAINED codebooks on non-lattice data
    is pinned in tests/test_clustering.py, the same split as the
    IVF/LSH family: gate = arithmetic, pytest = statistics.)  Scale
    shape: encode is one Arrow matmul pass (dim*4/m bytes per vector
    — the 100 TB memory story); scoring emits per-batch top-k only."""
    from ..operators import similarity as sim

    books = [
        [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0], [0.5, 0.5]],
        [[2.0, 0.0], [0.0, 2.0], [1.0, 1.0], [-2.0, 0.0]],
    ]
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 64)
        .withColumn("a", (F.col("doc_id") % 4).cast("int"))
        .withColumn("b", ((F.col("doc_id") / 4).cast("long") % 4).cast("int"))
    )
    b0 = F.array(*[
        F.array(*[F.lit(x) for x in row]) for row in books[0]
    ])
    b1 = F.array(*[
        F.array(*[F.lit(x) for x in row]) for row in books[1]
    ])
    vecs = docs.select(
        F.col("doc_id").alias("vec_id"),
        F.concat(
            b0[F.col("a")], b1[F.col("b")]
        ).alias("embedding"),
    )
    codes = sim.pq_encode(vecs, books)
    top = sim.pq_adc_topk(
        vecs.filter(F.col("vec_id") < 16), codes, books, k=3
    )
    return top.select(
        "query_id", "rank", "neighbor_id", "adc_score"
    ).orderBy("query_id", "rank")


# --------------------------------------------------------------------------
# Q199: IVF-PQ — cell-pruned ADC search, construction-exact oracle
# --------------------------------------------------------------------------
@_declare(
    "q199_ivfpq_topk",
    """
    WITH v AS (
      SELECT doc_id,
             CASE WHEN doc_id % 4 = 0 THEN 10.0 ELSE 0.0 END
               + CASE WHEN (doc_id % 4 + 1) % 4 = 0
                      THEN 0.25 * ((doc_id // 4) % 3) ELSE 0.0 END x1,
             CASE WHEN doc_id % 4 = 1 THEN 10.0 ELSE 0.0 END
               + CASE WHEN (doc_id % 4 + 1) % 4 = 1
                      THEN 0.25 * ((doc_id // 4) % 3) ELSE 0.0 END x2,
             CASE WHEN doc_id % 4 = 2 THEN 10.0 ELSE 0.0 END
               + CASE WHEN (doc_id % 4 + 1) % 4 = 2
                      THEN 0.25 * ((doc_id // 4) % 3) ELSE 0.0 END x3,
             CASE WHEN doc_id % 4 = 3 THEN 10.0 ELSE 0.0 END
               + CASE WHEN (doc_id % 4 + 1) % 4 = 3
                      THEN 0.25 * ((doc_id // 4) % 3) ELSE 0.0 END x4
      FROM documents WHERE doc_id < 64),
    scored AS (
      SELECT q.doc_id query_id, c.doc_id neighbor_id,
             q.x1*c.x1 + q.x2*c.x2 + q.x3*c.x3 + q.x4*c.x4 adc_score,
             ROW_NUMBER() OVER (
               PARTITION BY q.doc_id
               ORDER BY q.x1*c.x1 + q.x2*c.x2 + q.x3*c.x3 + q.x4*c.x4
                        DESC, c.doc_id ASC) rk
      FROM (SELECT * FROM v WHERE doc_id < 16) q
      JOIN v c ON c.doc_id <> q.doc_id)
    SELECT query_id, CAST(rk AS INT) rank, neighbor_id, adc_score
    FROM scored WHERE rk <= 3
    ORDER BY query_id, rank
    """,
)
def q199(spark, sf_dir):
    """IVF-PQ composed: 64 vectors in 4 ORTHOGONAL cells (10*e_c plus
    a small in-cell perturbation on the next axis), PQ codebooks
    enumerating every occurring subvector (lossless encode), and the
    search probing only 2 of 4 cells per query.  The construction
    guarantees every true neighbor shares the query's cell (same-cell
    dots ~100, cross-cell <= 2.5), so the HALF-corpus probe must still
    reproduce the brute-force top-3 the DuckDB oracle computes over
    ALL pairs — pruning that changed any answer, a wrong cell
    assignment, or a probe-set slip breaks the hash while the pruning
    ratio stays honest (2/4 cells scanned).  Trained-codebook recall
    on non-lattice data is pinned in tests/test_clustering.py."""
    from ..operators import similarity as sim

    books = [
        [[10.0, 0.0], [0.0, 10.0], [0.0, 0.0],
         [10.0, 0.25], [10.0, 0.5], [0.25, 0.0], [0.5, 0.0],
         [0.0, 0.25], [0.0, 0.5], [0.25, 10.0], [0.5, 10.0]],
        [[10.0, 0.0], [0.0, 10.0], [0.0, 0.0],
         [10.0, 0.25], [10.0, 0.5], [0.25, 0.0], [0.5, 0.0],
         [0.0, 0.25], [0.0, 0.5], [0.25, 10.0], [0.5, 10.0]],
    ]
    cents = [
        [10.0, 0.0, 0.0, 0.0], [0.0, 10.0, 0.0, 0.0],
        [0.0, 0.0, 10.0, 0.0], [0.0, 0.0, 0.0, 10.0],
    ]
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 64)
        .withColumn("c", (F.col("doc_id") % 4).cast("int"))
        .withColumn(
            "kk", ((F.col("doc_id") / 4).cast("long") % 3).cast("double")
        )
    )
    comps = [
        (
            F.when(F.col("c") == j, F.lit(10.0)).otherwise(F.lit(0.0))
            + F.when(
                (F.col("c") + 1) % 4 == j, 0.25 * F.col("kk")
            ).otherwise(F.lit(0.0))
        )
        for j in range(4)
    ]
    vecs = docs.select(
        F.col("doc_id").alias("vec_id"),
        F.array(*comps).alias("embedding"),
    )
    top = sim.ivfpq_topk(
        vecs.filter(F.col("vec_id") < 16), vecs, 3, books, cents,
        n_probe=2,
    )
    return top.select(
        "query_id", "rank", "neighbor_id", "adc_score"
    ).orderBy("query_id", "rank")


# --------------------------------------------------------------------------
# Q200: block-level exact dedup after packing — cross-doc repetition
# --------------------------------------------------------------------------
@_declare(
    "q200_block_dedup",
    """
    WITH d AS (SELECT doc_id,
                      rpad(substr(text, 1, 128), 128, '.') norm
               FROM documents
               WHERE doc_id < 192 AND text IS NOT NULL),
    rep AS (SELECT doc_id, CASE WHEN doc_id % 3 = 2
                                THEN (SELECT norm FROM d d2
                                      WHERE d2.doc_id = d.doc_id - 1)
                                ELSE norm END norm
            FROM d),
    corpus AS (SELECT string_agg(norm, '' ORDER BY doc_id) c,
                      SUM(strlen(norm)) tot FROM rep),
    blocks AS (SELECT i.i b, substr(c, CAST(i.i * 128 + 1 AS BIGINT),
                                    128) blk
               FROM corpus,
                    (SELECT unnest(range(0, CAST(ceil(tot / 128.0)
                                                 AS BIGINT)))
                     FROM corpus) i(i)),
    grp AS (SELECT md5(blk) h, MIN(b) keeper,
                   CAST(COUNT(*) AS BIGINT) n_copies
            FROM blocks GROUP BY md5(blk))
    SELECT keeper AS block_id, h AS block_md5, n_copies
    FROM grp ORDER BY block_id
    """,
)
def q200(spark, sf_dir):
    """Dedup AFTER packing — the pass that catches cross-document
    repetition exact-dedup misses at doc granularity: every third
    document is REPLACED by a copy of its predecessor's normalized
    prefix (planted duplication), texts truncate-and-pad to exactly
    128 bytes so packed 128-token blocks ALIGN with documents (every
    planted copy provably collapses at any SF), and identical
    blocks collapse by content hash keeping the lowest block id.  The
    oracle rebuilds the same corpus, blocks, and hash groups in SQL —
    a survivor set that differs by one block, a wrong keeper, or a
    duplicate count off by one breaks the hash.  Uses the q189
    packing machinery (distributed prefix sum + posexplode groupBy),
    then ONE more hash aggregate — the dedup itself is a single
    shuffle at any scale (q189 exemption family for the offsets
    collect)."""
    from ..operators import bpe

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter((F.col("doc_id") < 192) & F.col("text").isNotNull())
        .withColumn(
            "norm", F.rpad(F.substring("text", 1, 128), 128, ".")
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy("doc_id")
    # planted duplication: doc_id % 3 == 2 repeats its predecessor
    # (window over the 192-row bounded slice; the corpus-sized pack
    # below still uses the distributed prefix sum)
    rep = docs.withColumn(
        "norm",
        F.when(
            F.col("doc_id") % 3 == 2, F.lag("norm", 1).over(w)
        ).otherwise(F.col("norm")),
    ).select("doc_id", F.col("norm").alias("text"))
    tok = bpe.BPETokenizer([])
    enc = bpe.encode_column(rep, tok, "text")
    blocks = bpe.pack_token_blocks(enc, seq_len=128)
    return (
        blocks.withColumn("block_md5", F.md5("block_bytes"))
        .groupBy("block_md5")
        .agg(
            F.min("block_id").alias("block_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("block_id", "block_md5", "n_copies")
        .orderBy("block_id")
    )


# --------------------------------------------------------------------------
# Q201: REAL TIFF decode (PackBits + LZW strips) — lossless oracle
# --------------------------------------------------------------------------
@_declare(
    "q201_tiff_strip_stats",
    """
    WITH px AS (
      SELECT d.doc_id,
             ((d.doc_id * 3 + r.r + c.c // 6) % 40) ix
      FROM (SELECT doc_id FROM documents WHERE doc_id < 150) d
      CROSS JOIN (SELECT unnest(range(0, 14)) r) r
      CROSS JOIN (SELECT unnest(range(0, 24)) c) c),
    ch AS (SELECT doc_id,
                  (ix * 6 + 3) % 256 pr,
                  (ix * 6 + 53) % 256 pg,
                  (ix * 6 + 103) % 256 pb
           FROM px),
    lm AS (SELECT doc_id, pr, pg, pb,
                  0.299 * pr + 0.587 * pg + 0.114 * pb luma
           FROM ch)
    SELECT doc_id media_id,
           CAST(24 AS INT) width, CAST(14 AS INT) height,
           ROUND(AVG(pr * 1.0), 4) mean_r,
           ROUND(AVG(pg * 1.0), 4) mean_g,
           ROUND(AVG(pb * 1.0), 4) mean_b,
           ROUND(AVG(luma), 4) luma_mean,
           ROUND(SQRT(AVG(luma * luma) - AVG(luma) * AVG(luma)), 4)
             luma_std
    FROM lm GROUP BY doc_id ORDER BY doc_id
    """,
)
def q201(spark, sf_dir):
    """REAL TIFF decode, exactly verified: each document gets a 24x14
    RGB image whose pixels are a closed form with 6-pixel horizontal
    runs, cut into 4-row STRIPS and compressed with PackBits on even
    docs and TIFF-variant LZW (MSB packing, 9->12-bit codes, the
    EARLY-CHANGE width rule) on odd docs — both real baseline-TIFF
    entropy stages, multi-strip reassembly, and the IFD walk (shared
    with the EXIF parser) all inside the loop.  Both codings are
    lossless, so the DuckDB oracle recounts every channel
    arithmetically; a PackBits literal/run boundary slip or an LZW
    early-change off-by-one corrupts pixels and breaks the hash.
    Map-only: synth and decode are Arrow-batched stages."""
    from ..operators.multimodal import extract_image_features

    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 150
    )

    def synth(batches):
        import numpy as _np
        import pandas as _pd

        from django_datastream_spark.operators.media_codecs import (
            encode_tiff,
        )

        r = _np.arange(14)[:, None]
        c = _np.arange(24)[None, :]
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                ix = ((did * 3 + r + c // 6) % 40).astype(_np.int64)
                img = _np.stack(
                    [
                        (ix * 6 + 3) % 256,
                        (ix * 6 + 53) % 256,
                        (ix * 6 + 103) % 256,
                    ],
                    axis=-1,
                ).astype(_np.uint8)
                comp = "packbits" if did % 2 == 0 else "lzw"
                payloads.append(
                    encode_tiff(img, comp, rows_per_strip=4)
                )
            yield _pd.DataFrame(
                {"media_id": pdf["doc_id"], "content": payloads}
            )

    media = docs.mapInPandas(synth, "media_id long, content binary")
    feats = extract_image_features(media, "tiff")
    return feats.select(
        "media_id", "width", "height",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
        F.round("luma_mean", 4).alias("luma_mean"),
        F.round("luma_std", 4).alias("luma_std"),
    ).orderBy("media_id")


# --------------------------------------------------------------------------
# Q202: robots.txt compliance (RFC 9309) — constructed rules, closed form
# --------------------------------------------------------------------------
@_declare(
    "q202_robots_compliance",
    """
    SELECT doc_id,
           CAST(doc_id % 5 IN (0, 2, 4) AS BOOLEAN) allowed
    FROM documents WHERE doc_id < 500 ORDER BY doc_id
    """,
)
def q202(spark, sf_dir):
    """Crawl compliance in the gate: five URL shapes per doc_id run
    against a robots.txt exercising every RFC 9309 mechanism —
    longest-match precedence (the /private/ok/ Allow overrides the
    shorter /private/ Disallow), '*' wildcards with the '$' end
    anchor (/*.pdf$ blocks .pdf but NOT .pdf.txt), and the plain
    prefix rule.  functions/urls.robots_decision implements RFC 9309
    proper — the stdlib parser still applies the 1994 FIRST-match
    rule and would flip the /private/ok/ case, so a silent fallback
    to it breaks the hash.  The verdict per shape is a closed form of
    doc_id % 5.  Map-only Arrow stage, no shuffle."""
    from ..functions.urls import robots_allowed

    robots = (
        "User-agent: *\n"
        "Disallow: /private/\n"
        "Allow: /private/ok/\n"
        "Disallow: /*.pdf$\n"
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 500)
        .withColumn("m", (F.col("doc_id") % 5).cast("int"))
        .withColumn(
            "url",
            F.concat(
                F.lit("http://corpus.test"),
                F.when(F.col("m") == 0, F.concat(
                    F.lit("/page/"), F.col("doc_id").cast("string")))
                .when(F.col("m") == 1, F.concat(
                    F.lit("/private/"), F.col("doc_id").cast("string")))
                .when(F.col("m") == 2, F.concat(
                    F.lit("/private/ok/"), F.col("doc_id").cast("string")))
                .when(F.col("m") == 3, F.concat(
                    F.lit("/file/"), F.col("doc_id").cast("string"),
                    F.lit(".pdf")))
                .otherwise(F.concat(
                    F.lit("/file/"), F.col("doc_id").cast("string"),
                    F.lit(".pdf.txt"))),
            ),
        )
        .withColumn("robots_txt", F.lit(robots))
    )
    return (
        robots_allowed(docs, "robots_txt", "url")
        .select("doc_id", "allowed")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Q203: tolerant JSON repair — constructed damage, canonical-string oracle
# --------------------------------------------------------------------------
@_declare(
    "q203_json_repair",
    """
    SELECT doc_id,
           '{"id": ' || CAST(doc_id AS VARCHAR)
             || ', "ok": true, "src": "crawl", "tags": ['
             || CAST(doc_id % 7 AS VARCHAR) || ', '
             || CAST(doc_id % 3 AS VARCHAR) || ']}' AS meta_fixed
    FROM documents WHERE doc_id < 500 ORDER BY doc_id
    """,
)
def q203(spark, sf_dir):
    """Scraped-metadata JSON repair in the gate: every document gets
    an almost-JSON blob with the four classic corruptions — single
    quotes, an unquoted key, trailing commas in both the array and
    the object, and a Python True — and
    functions/encoding.repair_json must emit the CANONICAL form
    (double quotes, sorted keys, JSON literals) that the DuckDB
    oracle spells with string concatenation.  Exact string equality
    (hashed) pins the tokenizer: a regex-based "fixer" that touched a
    comma inside a string, missed the identifier key, or emitted
    unsorted keys breaks the hash.  Map-only Arrow stage, no
    shuffle."""
    from ..functions.encoding import repair_json_column

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 500)
        .withColumn(
            "meta",
            F.concat(
                F.lit("{'id': "), F.col("doc_id").cast("string"),
                F.lit(", 'tags': ["),
                (F.col("doc_id") % 7).cast("string"), F.lit(", "),
                (F.col("doc_id") % 3).cast("string"),
                F.lit(",], 'ok': True, src: 'crawl',}"),
            ),
        )
    )
    return (
        repair_json_column(docs, "meta")
        .select("doc_id", "meta_fixed")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Q204–Q206: persistent ANN index tier (operators/ann_index) — the
# build-once/query-many embedding-tier shape, state in the txn log
# --------------------------------------------------------------------------
_ANN_BOOKS = [
    [[10.0, 0.0], [0.0, 10.0], [0.0, 0.0],
     [10.0, 0.25], [10.0, 0.5], [0.25, 0.0], [0.5, 0.0],
     [0.0, 0.25], [0.0, 0.5], [0.25, 10.0], [0.5, 10.0]],
    [[10.0, 0.0], [0.0, 10.0], [0.0, 0.0],
     [10.0, 0.25], [10.0, 0.5], [0.25, 0.0], [0.5, 0.0],
     [0.0, 0.25], [0.0, 0.5], [0.25, 10.0], [0.5, 10.0]],
]
_ANN_CENTS = [
    [10.0, 0.0, 0.0, 0.0], [0.0, 10.0, 0.0, 0.0],
    [0.0, 0.0, 10.0, 0.0], [0.0, 0.0, 0.0, 10.0],
]

# DuckDB CTE: q199's orthogonal-cell construction (64 vectors, cell =
# doc_id%4, in-cell perturbation 0.25*((doc_id//4)%3) on the next axis)
_ANN_V_CTE = """
    v AS (
      SELECT doc_id,
             CASE WHEN doc_id % 4 = 0 THEN 10.0 ELSE 0.0 END
               + CASE WHEN (doc_id % 4 + 1) % 4 = 0
                      THEN 0.25 * ((doc_id // 4) % 3) ELSE 0.0 END x1,
             CASE WHEN doc_id % 4 = 1 THEN 10.0 ELSE 0.0 END
               + CASE WHEN (doc_id % 4 + 1) % 4 = 1
                      THEN 0.25 * ((doc_id // 4) % 3) ELSE 0.0 END x2,
             CASE WHEN doc_id % 4 = 2 THEN 10.0 ELSE 0.0 END
               + CASE WHEN (doc_id % 4 + 1) % 4 = 2
                      THEN 0.25 * ((doc_id // 4) % 3) ELSE 0.0 END x3,
             CASE WHEN doc_id % 4 = 3 THEN 10.0 ELSE 0.0 END
               + CASE WHEN (doc_id % 4 + 1) % 4 = 3
                      THEN 0.25 * ((doc_id // 4) % 3) ELSE 0.0 END x4
      FROM documents WHERE doc_id < 64)
"""


def _ann_vecs(spark, sf_dir, upto: int = 64):
    """The q199 orthogonal-cell vectors, built from documents.doc_id."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < upto)
        .withColumn("c", (F.col("doc_id") % 4).cast("int"))
        .withColumn(
            "kk", ((F.col("doc_id") / 4).cast("long") % 3).cast("double")
        )
    )
    comps = [
        (
            F.when(F.col("c") == j, F.lit(10.0)).otherwise(F.lit(0.0))
            + F.when(
                (F.col("c") + 1) % 4 == j, 0.25 * F.col("kk")
            ).otherwise(F.lit(0.0))
        )
        for j in range(4)
    ]
    return docs.select(
        F.col("doc_id").alias("vec_id"), F.array(*comps).alias("embedding")
    )


def _ann_workdir(key: str, sf_dir: str) -> str:
    """Fresh per-call index root under /tmp (q170's discipline)."""
    import hashlib as _hl
    import os as _os
    import shutil as _sh
    import tempfile as _tmp

    base = _os.path.join(
        _tmp.gettempdir(),
        f"{key}_" + _hl.md5(sf_dir.encode()).hexdigest()[:10],
    )
    _sh.rmtree(base, ignore_errors=True)
    return _os.path.join(base, "index")


@_declare(
    "q204_ann_index_reload",
    f"""
    WITH {_ANN_V_CTE},
    scored AS (
      SELECT q.doc_id query_id, c.doc_id neighbor_id,
             q.x1*c.x1 + q.x2*c.x2 + q.x3*c.x3 + q.x4*c.x4 adc_score,
             ROW_NUMBER() OVER (
               PARTITION BY q.doc_id
               ORDER BY q.x1*c.x1 + q.x2*c.x2 + q.x3*c.x3 + q.x4*c.x4
                        DESC, c.doc_id ASC) rk
      FROM (SELECT * FROM v WHERE doc_id < 16) q
      JOIN v c ON c.doc_id <> q.doc_id)
    SELECT query_id, CAST(rk AS INT) rank, neighbor_id, adc_score
    FROM scored WHERE rk <= 3
    ORDER BY query_id, rank
    """,
)
def q204(spark, sf_dir):
    """The PERSISTENT ANN tier: q199's IVF-PQ search served from an
    index committed to the transaction log (operators/ann_index) and
    RELOADED — build_ann_index writes the model (codebooks+centroids)
    and the cell-partitioned uint8-codes table as txn commits, then
    query_ann_index reconstructs everything from disk with NO
    retraining and must reproduce q199's construction-exact top-3
    hash-for-hash. What that pins: the model round trip (a codeword
    written/read wrong moves a score), the binary uint8 code packing,
    and the probe-pruned codes read (txn_read where={'cell': probed}
    skips non-probed cell partitions at the FILE level — the
    build-once/query-many 100 TB serving shape, where each query
    touches n_probe/n_cells of the stored codes). NOTE: the builder
    RUNS Spark jobs (index build + reload; by-name exemption in
    test_declaring_queries_runs_no_jobs)."""
    from ..operators import ann_index as AI

    root = _ann_workdir("q204", sf_dir)
    vecs = _ann_vecs(spark, sf_dir)
    AI.build_ann_index(
        spark, root, vecs, codebooks=_ANN_BOOKS, centroids=_ANN_CENTS
    )
    top = AI.query_ann_index(
        spark, root, vecs.filter(F.col("vec_id") < 16), k=3, n_probe=2
    )
    return top.select(
        "query_id", "rank", "neighbor_id", "adc_score"
    ).orderBy("query_id", "rank")


@_declare(
    "q205_ann_index_time_travel",
    f"""
    WITH {_ANN_V_CTE},
    eras AS (SELECT 1 ver, 48 upto UNION ALL SELECT 2, 64),
    scored AS (
      SELECT e.ver, q.doc_id query_id, c.doc_id neighbor_id,
             q.x1*c.x1 + q.x2*c.x2 + q.x3*c.x3 + q.x4*c.x4 adc_score,
             ROW_NUMBER() OVER (
               PARTITION BY e.ver, q.doc_id
               ORDER BY q.x1*c.x1 + q.x2*c.x2 + q.x3*c.x3 + q.x4*c.x4
                        DESC, c.doc_id ASC) rk
      FROM eras e
      CROSS JOIN (SELECT * FROM v WHERE doc_id < 16) q
      JOIN v c ON c.doc_id <> q.doc_id AND c.doc_id < e.upto)
    SELECT CAST(ver AS INT) ver, query_id, CAST(rk AS INT) rank,
           neighbor_id, adc_score
    FROM scored WHERE rk <= 3
    ORDER BY ver, query_id, rank
    """,
)
def q205(spark, sf_dir):
    """Index versions ARE commits: build the index over the first 48
    vectors (codes commit v1), add_vectors the remaining 16 (encoded
    with the PERSISTED model, codes commit v2), then serve the SAME
    queries at version=1 and at latest. The oracle recomputes both
    eras by brute force: v1 answers must come exclusively from the
    first 48 (snapshot isolation over index growth — a time-travel
    read that leaked an added vector breaks the hash), v2 answers
    from the full corpus. This is the incremental-growth story of a
    100 TB embedding tier: appends are cheap commits, every commit is
    a queryable index, and reproducing yesterday's retrieval run is a
    version pin, not a rebuild. (Builder runs Spark jobs; by-name
    exemption in test_declaring_queries_runs_no_jobs.)"""
    from ..operators import ann_index as AI

    root = _ann_workdir("q205", sf_dir)
    vecs = _ann_vecs(spark, sf_dir)
    first = vecs.filter(F.col("vec_id") < 48)
    rest = vecs.filter(F.col("vec_id") >= 48)
    v1 = AI.build_ann_index(
        spark, root, first, codebooks=_ANN_BOOKS, centroids=_ANN_CENTS
    )
    # ONE disk reload serves the add + both era queries (r12): the model
    # table is immutable after build, so the round trip stays exercised
    # while the two extra per-call collects go away (guide §1.2)
    model = AI.load_ann_model(spark, root)
    AI.add_vectors(spark, root, rest, model=model)
    queries = vecs.filter(F.col("vec_id") < 16)
    at_v1 = AI.query_ann_index(
        spark, root, queries, k=3, n_probe=2, version=v1, model=model
    ).withColumn("ver", F.lit(1))
    at_v2 = AI.query_ann_index(
        spark, root, queries, k=3, n_probe=2, model=model
    ).withColumn("ver", F.lit(2))
    return (
        at_v1.unionByName(at_v2)
        .select("ver", "query_id", "rank", "neighbor_id", "adc_score")
        .orderBy("ver", "query_id", "rank")
    )


@_declare(
    "q206_embedding_capstone",
    f"""
    WITH {_ANN_V_CTE},
    m AS (SELECT doc_id, doc_id % 4 cell,
                 sqrt(x1*x1 + x2*x2 + x3*x3 + x4*x4) nrm,
                 x1, x2, x3, x4
          FROM v),
    dup AS (SELECT DISTINCT b.doc_id FROM m a JOIN m b
            ON a.cell = b.cell AND a.doc_id < b.doc_id
            WHERE (a.x1*b.x1 + a.x2*b.x2 + a.x3*b.x3 + a.x4*b.x4)
                  / (a.nrm * b.nrm) >= 0.9999),
    top1 AS (SELECT q.doc_id, MAX(q.x1*c.x1 + q.x2*c.x2 + q.x3*c.x3
                                  + q.x4*c.x4) best
             FROM m q JOIN m c
               ON c.doc_id <> q.doc_id AND c.cell = q.cell
             GROUP BY q.doc_id)
    SELECT CAST(m.cell AS INT) cell,
           CAST(COUNT(*) AS BIGINT) n,
           CAST(SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) n_dup,
           ROUND(SUM(CASE WHEN dup.doc_id IS NULL THEN top1.best
                          ELSE 0.0 END), 4) surv_top1_sum
    FROM m LEFT JOIN dup ON m.doc_id = dup.doc_id
           JOIN top1 ON m.doc_id = top1.doc_id
    GROUP BY m.cell ORDER BY cell
    """,
)
def q206(spark, sf_dir):
    """The EMBEDDING-PIPELINE capstone (q193's mirror for the vector
    path), one DAG over the persisted ANN tier: deterministic embed
    (the orthogonal-cell construction) → build_ann_index (IVF-PQ
    state committed to the txn log) → cluster assignment READ BACK
    from the persisted codes table (cell = cid, no re-assignment) →
    SemDeDup within cells at 0.9999 (construction: exact twins have
    cosine 1.0, nearest non-twins ≈ 0.9997 — the threshold separates
    provably) → survivors' top-1 retrieval served by query_ann_index
    at n_probe=1 (own cell only; answer-preserving by construction:
    same-cell dots ~100, cross-cell ≤ 2.5) → per-cell stats. The
    oracle recomputes every stage by brute arithmetic, so the final
    hash certifies embed, persisted build/reload, cell assignment,
    semantic dedup, AND pruned ANN serving composed. (Builder runs
    Spark jobs; by-name exemption in
    test_declaring_queries_runs_no_jobs.)"""
    from .. import txnlog as TL
    from ..operators import ann_index as AI
    from ..operators import clustering as cl

    root = _ann_workdir("q206", sf_dir)
    vecs = _ann_vecs(spark, sf_dir)
    AI.build_ann_index(
        spark, root, vecs, codebooks=_ANN_BOOKS, centroids=_ANN_CENTS
    )
    cells = TL.txn_read(spark, AI.codes_root(root)).select(
        "vec_id", F.col("cell").cast("int").alias("cid")
    )
    assigned = vecs.join(F.broadcast(cells), "vec_id")
    marked = cl.semdedup(assigned, threshold=0.9999)
    survivors = marked.filter(~F.col("is_dup")).select("vec_id")
    top1 = AI.query_ann_index(
        spark, root,
        vecs.join(F.broadcast(survivors), "vec_id"),
        k=1, n_probe=1,
    ).select(
        F.col("query_id").alias("vec_id"),
        F.col("adc_score").alias("best"),
    )
    return (
        marked.join(F.broadcast(top1), "vec_id", "left")
        .groupBy(F.col("cid").alias("cell"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("is_dup").cast("long")).alias("n_dup"),
            F.round(
                F.sum(F.coalesce(F.col("best"), F.lit(0.0))), 4
            ).alias("surv_top1_sum"),
        )
        .orderBy("cell")
    )


# --------------------------------------------------------------------------
# Q207–Q209: Delta Lake interop (sources/delta) — read an external
# lakehouse format in place, time-travel it, adopt it zero-copy
# --------------------------------------------------------------------------
def _delta_fixture(spark, sf_dir, key):
    """Build (fresh per call) a REAL _delta_log tree whose rows are a
    closed form of documents.doc_id: v0 = hive part files for
    doc_id<200 (val = doc_id*0.5), v1 = doc_id in [200,300), parquet
    CHECKPOINT at v1, v2 = rewrite of part=0's first file with val
    +1000 (remove + add). Returns the table root."""
    import hashlib as _hl
    import os as _os
    import shutil as _sh
    import tempfile as _tmp

    import pyarrow as _pa
    import pyarrow.parquet as _pq
    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StructField, StructType,
    )

    from ..sources import delta as DLT

    base = _os.path.join(
        _tmp.gettempdir(),
        f"{key}_" + _hl.md5(sf_dir.encode()).hexdigest()[:10],
    )
    _sh.rmtree(base, ignore_errors=True)
    root = _os.path.join(base, "table")
    ids = sorted(
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 300)
        .collect()
    )

    def write(rel, rows, bump=0.0):
        _os.makedirs(
            _os.path.dirname(_os.path.join(root, rel)), exist_ok=True
        )
        _pq.write_table(
            _pa.table(
                {
                    "doc_id": _pa.array(rows, _pa.int64()),
                    "val": _pa.array(
                        [i * 0.5 + bump for i in rows], _pa.float64()
                    ),
                }
            ),
            _os.path.join(root, rel),
        )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("part", IntegerType()),
            StructField("val", DoubleType()),
        ]
    )
    meta = {
        "metaData": {
            "id": key,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema.json(),
            "partitionColumns": ["part"],
            "configuration": {},
        }
    }
    proto = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}

    def add(rel, p):
        return {
            "add": {
                "path": rel,
                "partitionValues": {"part": str(p)},
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
            }
        }

    acts = [proto, meta]
    for p in range(4):
        rows = [i for i in ids if i < 200 and i % 4 == p]
        write(f"part={p}/f0.parquet", rows)
        acts.append(add(f"part={p}/f0.parquet", p))
    DLT.write_delta_commit(root, 0, acts)
    acts1 = []
    for p in range(4):
        rows = [i for i in ids if 200 <= i < 300 and i % 4 == p]
        write(f"part={p}/f1.parquet", rows)
        acts1.append(add(f"part={p}/f1.parquet", p))
    DLT.write_delta_commit(root, 1, acts1)
    DLT.write_delta_checkpoint(root, 1)
    rows0 = [i for i in ids if i < 200 and i % 4 == 0]
    write("part=0/f2.parquet", rows0, bump=1000.0)
    DLT.write_delta_commit(
        root, 2,
        [{"remove": {"path": "part=0/f0.parquet", "dataChange": True,
                     "deletionTimestamp": 0}},
         add("part=0/f2.parquet", 0)],
    )
    return root


@_declare(
    "q207_delta_read",
    """
    SELECT doc_id, CAST(doc_id % 4 AS INT) part,
           ROUND(CASE WHEN doc_id < 200 AND doc_id % 4 = 0
                      THEN doc_id * 0.5 + 1000
                      ELSE doc_id * 0.5 END, 4) val
    FROM documents WHERE doc_id < 300 ORDER BY doc_id
    """,
)
def q207(spark, sf_dir):
    """EXTERNAL-FORMAT interop: a Delta Lake table (REAL _delta_log —
    JSON commits, a parquet CHECKPOINT with struct/map action columns,
    an add+remove rewrite) read IN PLACE by sources/delta.read_delta:
    protocol gate, checkpoint + JSON-tail fold, live-set computation,
    declared-schema scan with hive partition materialization. The
    rows are a closed form of documents.doc_id, so the oracle
    recomputes the LIVE set (post-rewrite vals on part 0's first era)
    by arithmetic — a fold that resurrected the removed file, missed
    the checkpoint tail, or typed the partition column wrong breaks
    the hash. (Builder writes the fixture tree + collects the bounded
    id list; by-name exemption in
    test_declaring_queries_runs_no_jobs.)"""
    from ..sources import delta as DLT

    root = _delta_fixture(spark, sf_dir, "q207")
    return (
        DLT.read_delta(spark, root)
        .select("doc_id", "part", F.round("val", 4).alias("val"))
        .orderBy("doc_id")
    )


@_declare(
    "q208_delta_time_travel",
    """
    WITH eras AS (SELECT 0 ver, 200 upto, FALSE bumped
                  UNION ALL SELECT 1, 300, FALSE
                  UNION ALL SELECT 2, 300, TRUE)
    SELECT CAST(e.ver AS INT) ver, CAST(d.doc_id % 4 AS INT) part,
           CAST(COUNT(*) AS BIGINT) n,
           ROUND(SUM(CASE WHEN e.bumped AND d.doc_id < 200
                               AND d.doc_id % 4 = 0
                          THEN d.doc_id * 0.5 + 1000
                          ELSE d.doc_id * 0.5 END), 4) sum_val
    FROM eras e JOIN documents d ON d.doc_id < e.upto
    GROUP BY e.ver, d.doc_id % 4 ORDER BY ver, part
    """,
)
def q208(spark, sf_dir):
    """Delta TIME TRAVEL: the same table served at version 0 (before
    the append), 1 (before the rewrite; this read goes THROUGH the
    parquet checkpoint), and 2 (latest) — each era aggregated per
    partition and all three oracled by the era's closed form. A
    version pin that leaked a later commit (or lost the pre-rewrite
    vals) breaks the hash. (Builder writes the fixture tree; by-name
    exemption in test_declaring_queries_runs_no_jobs.)"""
    from ..sources import delta as DLT

    root = _delta_fixture(spark, sf_dir, "q208")
    eras = []
    for v in (0, 1, 2):
        eras.append(
            DLT.read_delta(spark, root, version=v)
            .groupBy("part")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("val"), 4).alias("sum_val"),
            )
            .withColumn("ver", F.lit(v))
        )
    out = eras[0]
    for e in eras[1:]:
        out = out.unionByName(e)
    return out.select("ver", "part", "n", "sum_val").orderBy(
        "ver", "part"
    )


@_declare(
    "q209_delta_adopt",
    """
    SELECT CAST(doc_id % 4 AS INT) part, CAST(COUNT(*) AS BIGINT) n,
           ROUND(SUM(CASE WHEN doc_id < 200 AND doc_id % 4 = 0
                          THEN doc_id * 0.5 + 1000
                          ELSE doc_id * 0.5 END), 4) sum_val
    FROM documents WHERE doc_id BETWEEN 80 AND 249
    GROUP BY doc_id % 4 ORDER BY part
    """,
)
def q209(spark, sf_dir):
    """ZERO-COPY MIGRATION: adopt_delta commits the Delta snapshot's
    live files into the engine's OWN txn table (no byte rewritten,
    footer stats collected at adopt), then the engine-native
    txn_read serves a range query WITH data skipping over the adopted
    files. The oracle recomputes the filtered aggregate from the
    closed form — an adopt that picked up the delta-removed file, or
    skipping that dropped a live file, breaks the hash. (Builder
    writes the fixture + runs the adopt; by-name exemption in
    test_declaring_queries_runs_no_jobs.)"""
    from .. import txnlog as TL
    from ..sources import delta as DLT

    root = _delta_fixture(spark, sf_dir, "q209")
    DLT.adopt_delta(spark, root, root)
    got = TL.txn_read(spark, root, where={"doc_id": (80, 249)})
    return (
        got.select(F.col("part").cast("int").alias("part"), "doc_id", "val")
        .groupBy("part")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("val"), 4).alias("sum_val"),
        )
        .orderBy("part")
    )


@_declare(
    "q210_delta_changes",
    """
    SELECT CAST(1 AS INT) ver, doc_id, ROUND(doc_id * 0.5, 4) val
    FROM documents WHERE doc_id >= 200 AND doc_id < 300
    UNION ALL
    SELECT CAST(2 AS INT) ver, doc_id, ROUND(doc_id * 0.5 + 1000, 4) val
    FROM documents WHERE doc_id < 200 AND doc_id % 4 = 0
    ORDER BY ver, doc_id
    """,
)
def q210(spark, sf_dir):
    """INCREMENTAL Delta consumption (sources/delta.delta_changes —
    the txn_changes twin for EXTERNAL tables): the rows added by
    commits (0, 2], each tagged with its commit version, the rewrite
    commit consumed under explicit on_remove='ignore' semantics
    (fail-closed is the default, pinned by test). The oracle
    recomputes both commits' closed forms — a feed that attributed a
    row to the wrong commit, leaked the compaction-style skip rule,
    or re-read commit-0 rows breaks the hash. (Builder writes the
    fixture tree; by-name exemption in
    test_declaring_queries_runs_no_jobs.)"""
    from ..sources import delta as DLT

    root = _delta_fixture(spark, sf_dir, "q210")
    ch = DLT.delta_changes(spark, root, 0, 2, on_remove="ignore")
    return ch.select(
        F.col("_commit_version").cast("int").alias("ver"),
        "doc_id",
        F.round("val", 4).alias("val"),
    ).orderBy("ver", "doc_id")


# --------------------------------------------------------------------------
# Q211–Q212: Iceberg interop (sources/iceberg over sources/avro_lite)
# --------------------------------------------------------------------------
def _iceberg_fixture(spark, sf_dir, key):
    """REAL Iceberg v2 metadata tree (JSON metadata + AVRO manifest
    lists/manifests via the from-spec avro_lite codec) whose rows are
    the SAME closed form as the Delta fixture: s1 = doc_id<200 in 4
    bucket files (val = doc_id*0.5), s2 = bucket-0 file DELETED and
    rewritten with val+1000 (A files EXISTING) + files for
    doc_id in [200,300). Returns the table root."""
    import hashlib as _hl
    import os as _os
    import shutil as _sh
    import tempfile as _tmp

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from ..sources import iceberg as IB

    base = _os.path.join(
        _tmp.gettempdir(),
        f"{key}_" + _hl.md5(sf_dir.encode()).hexdigest()[:10],
    )
    _sh.rmtree(base, ignore_errors=True)
    root = _os.path.join(base, "table")
    ids = sorted(
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 300)
        .collect()
    )

    def write(rel, rows, bump=0.0):
        full = _os.path.join(root, rel)
        _os.makedirs(_os.path.dirname(full), exist_ok=True)
        _pq.write_table(
            _pa.table(
                {
                    "doc_id": _pa.array(rows, _pa.int64()),
                    "val": _pa.array(
                        [i * 0.5 + bump for i in rows], _pa.float64()
                    ),
                }
            ),
            full,
        )

    fields = [
        {"id": 1, "name": "doc_id", "required": True, "type": "long"},
        {"id": 2, "name": "val", "required": False, "type": "double"},
    ]
    a_files = []
    for p in range(4):
        rel = f"data/a{p}.parquet"
        write(rel, [i for i in ids if i < 200 and i % 4 == p])
        a_files.append(rel)
    IB.write_manifest(
        root, "m1.avro", [(1, rel) for rel in a_files], 1
    )
    IB.write_manifest_list(root, "snap-1.avro", ["m1.avro"], 1)
    # s2: a0 deleted + rewritten (+1000), the rest existing, new files
    write("data/a0b.parquet",
          [i for i in ids if i < 200 and i % 4 == 0], bump=1000.0)
    new_files = []
    for p in range(4):
        rel = f"data/b{p}.parquet"
        write(rel, [i for i in ids if 200 <= i < 300 and i % 4 == p])
        new_files.append(rel)
    IB.write_manifest(
        root, "m2.avro",
        [(2, "data/a0.parquet")]
        + [(0, rel) for rel in a_files[1:]]
        + [(1, "data/a0b.parquet")],
        2,
    )
    IB.write_manifest(
        root, "m3.avro", [(1, rel) for rel in new_files], 2
    )
    IB.write_manifest_list(
        root, "snap-2.avro", ["m2.avro", "m3.avro"], 2
    )
    IB.write_metadata(
        root, 2, fields,
        [
            {"snapshot-id": 1, "manifest-list": "metadata/snap-1.avro"},
            {"snapshot-id": 2, "manifest-list": "metadata/snap-2.avro"},
        ],
        current_snapshot_id=2,
    )
    return root


@_declare(
    "q211_iceberg_read",
    """
    SELECT doc_id,
           ROUND(CASE WHEN doc_id < 200 AND doc_id % 4 = 0
                      THEN doc_id * 0.5 + 1000
                      ELSE doc_id * 0.5 END, 4) val
    FROM documents WHERE doc_id < 300 ORDER BY doc_id
    """,
)
def q211(spark, sf_dir):
    """Iceberg interop (the SECOND external lakehouse format): a real
    v2 metadata tree — JSON table metadata, AVRO manifest list, TWO
    manifests (one carrying EXISTING + DELETED entries for the
    rewrite, one the appended files), all avro decoded by the
    from-spec avro_lite codec — read in place by
    sources/iceberg.read_iceberg. The oracle recomputes the live set
    from the closed form: a fold that kept the DELETED entry, dropped
    an EXISTING one, or mis-decoded an avro varint breaks the hash.
    (Builder writes the fixture tree; by-name exemption in
    test_declaring_queries_runs_no_jobs.)"""
    from ..sources import iceberg as IB

    root = _iceberg_fixture(spark, sf_dir, "q211")
    return (
        IB.read_iceberg(spark, root)
        .select("doc_id", F.round("val", 4).alias("val"))
        .orderBy("doc_id")
    )


@_declare(
    "q212_iceberg_time_travel",
    """
    WITH eras AS (SELECT 1 snap, 200 upto, FALSE bumped
                  UNION ALL SELECT 2, 300, TRUE)
    SELECT CAST(e.snap AS INT) snap, CAST(COUNT(*) AS BIGINT) n,
           ROUND(SUM(CASE WHEN e.bumped AND d.doc_id < 200
                               AND d.doc_id % 4 = 0
                          THEN d.doc_id * 0.5 + 1000
                          ELSE d.doc_id * 0.5 END), 4) sum_val
    FROM eras e JOIN documents d ON d.doc_id < e.upto
    GROUP BY e.snap ORDER BY snap
    """,
)
def q212(spark, sf_dir):
    """Iceberg TIME TRAVEL: snapshot 1 (pre-rewrite, pre-append) vs
    the current snapshot, each a COMPLETE manifest-list fold (no
    delta replay — the spec's snapshot model), aggregated and oracled
    per era. A snapshot pin that leaked the rewrite or the appended
    files breaks the hash. (Builder writes the fixture tree; by-name
    exemption in test_declaring_queries_runs_no_jobs.)"""
    from ..sources import iceberg as IB

    root = _iceberg_fixture(spark, sf_dir, "q212")
    eras = []
    for snap in (1, 2):
        eras.append(
            IB.read_iceberg(spark, root, snapshot_id=snap)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("val"), 4).alias("sum_val"),
            )
            .withColumn("snap", F.lit(snap))
        )
    return (
        eras[0].unionByName(eras[1])
        .select("snap", "n", "sum_val")
        .orderBy("snap")
    )


@_declare(
    "q213_iceberg_adopt",
    """
    SELECT CAST(doc_id % 4 AS INT) part, CAST(COUNT(*) AS BIGINT) n,
           ROUND(SUM(CASE WHEN doc_id < 200 AND doc_id % 4 = 0
                          THEN doc_id * 0.5 + 1000
                          ELSE doc_id * 0.5 END), 4) sum_val
    FROM documents WHERE doc_id BETWEEN 80 AND 249
    GROUP BY doc_id % 4 ORDER BY part
    """,
)
def q213(spark, sf_dir):
    """ZERO-COPY Iceberg migration (q209's twin for the second
    format): adopt_iceberg commits the snapshot's live files —
    through the avro manifest fold — into the engine's txn table (no
    byte rewritten, footer stats at adopt), then engine-native
    txn_read serves a range query WITH data skipping over the adopted
    files. Same closed form as q209, so any divergence between the
    two formats' adoption paths shows up as a hash mismatch against
    the SAME oracle. (Builder writes the fixture + runs the adopt;
    by-name exemption in test_declaring_queries_runs_no_jobs.)"""
    from .. import txnlog as TL
    from ..sources import iceberg as IB

    root = _iceberg_fixture(spark, sf_dir, "q213")
    IB.adopt_iceberg(spark, root, root)
    got = TL.txn_read(spark, root, where={"doc_id": (80, 249)})
    return (
        got.select((F.col("doc_id") % 4).cast("int").alias("part"),
                   "doc_id", "val")
        .groupBy("part")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("val"), 4).alias("sum_val"),
        )
        .orderBy("part")
    )


@_declare(
    "q214_ann_index_remove",
    f"""
    WITH {_ANN_V_CTE},
    eras AS (SELECT 1 ver, FALSE removed UNION ALL SELECT 2, TRUE),
    scored AS (
      SELECT e.ver, q.doc_id query_id, c.doc_id neighbor_id,
             q.x1*c.x1 + q.x2*c.x2 + q.x3*c.x3 + q.x4*c.x4 adc_score,
             ROW_NUMBER() OVER (
               PARTITION BY e.ver, q.doc_id
               ORDER BY q.x1*c.x1 + q.x2*c.x2 + q.x3*c.x3 + q.x4*c.x4
                        DESC, c.doc_id ASC) rk
      FROM eras e
      CROSS JOIN (SELECT * FROM v WHERE doc_id < 8) q
      JOIN v c ON c.doc_id <> q.doc_id
             AND NOT (e.removed AND c.doc_id IN (4, 5, 6, 7)))
    SELECT CAST(ver AS INT) ver, query_id, CAST(rk AS INT) rank,
           neighbor_id, adc_score
    FROM scored WHERE rk <= 3
    ORDER BY ver, query_id, rank
    """,
)
def q214(spark, sf_dir):
    """Index DELETION without rebuild (the embedding tier's
    right-to-be-forgotten path): remove_vectors takes a deletion-
    vector commit on the codes table — no uint8 file rewritten — and
    the SAME queries are served at the pre-delete version (removed
    ids still answer: history is immutable until vacuum) and at
    latest (removed ids provably gone). Both eras brute-force-oracled
    on the q199 construction; a DV that leaked a removed id into the
    new version, or a version pin that lost one from the old, breaks
    the hash. (Builder runs the build + delete; by-name exemption in
    test_declaring_queries_runs_no_jobs.)"""
    from ..operators import ann_index as AI

    root = _ann_workdir("q214", sf_dir)
    vecs = _ann_vecs(spark, sf_dir)
    v1 = AI.build_ann_index(
        spark, root, vecs, codebooks=_ANN_BOOKS, centroids=_ANN_CENTS
    )
    AI.remove_vectors(spark, root, [4, 5, 6, 7])
    queries = vecs.filter(F.col("vec_id") < 8)
    # one disk reload serves both era queries (r12, q205 pattern) — the
    # delete only commits to the CODES table, the model is immutable
    model = AI.load_ann_model(spark, root)
    at_v1 = AI.query_ann_index(
        spark, root, queries, k=3, n_probe=2, version=v1, model=model
    ).withColumn("ver", F.lit(1))
    at_v2 = AI.query_ann_index(
        spark, root, queries, k=3, n_probe=2, model=model
    ).withColumn("ver", F.lit(2))
    return (
        at_v1.unionByName(at_v2)
        .select("ver", "query_id", "rank", "neighbor_id", "adc_score")
        .orderBy("ver", "query_id", "rank")
    )


@_declare(
    "q215_iceberg_changes",
    """
    SELECT CAST(1 AS INT) snap, doc_id, ROUND(doc_id * 0.5, 4) val
    FROM documents WHERE doc_id < 200
    UNION ALL
    SELECT CAST(2 AS INT) snap, doc_id,
           ROUND(CASE WHEN doc_id < 200 THEN doc_id * 0.5 + 1000
                      ELSE doc_id * 0.5 END, 4) val
    FROM documents
    WHERE (doc_id < 200 AND doc_id % 4 = 0)
       OR (doc_id >= 200 AND doc_id < 300)
    ORDER BY snap, doc_id
    """,
)
def q215(spark, sf_dir):
    """INCREMENTAL Iceberg consumption (q210's twin, via the spec's
    own bookkeeping: ADDED-status manifest entries attributed by
    snapshot id): snapshot 1's adds stream in full; snapshot 2 — a
    rewrite — fails closed by default (pinned by test) and under
    explicit on_remove='ignore' streams ONLY its ADDED files (the
    bumped rewrite + the appended ids), never re-emitting the
    EXISTING carried-over entries. Both eras closed-form oracled.
    (Builder writes the fixture tree; by-name exemption in
    test_declaring_queries_runs_no_jobs.)"""
    from ..sources import iceberg as IB

    root = _iceberg_fixture(spark, sf_dir, "q215")
    s1 = IB.iceberg_changes(spark, root, None, 1).select(
        F.lit(1).alias("snap"), "doc_id",
        F.round("val", 4).alias("val"),
    )
    s2 = IB.iceberg_changes(
        spark, root, 1, on_remove="ignore"
    ).select(
        F.lit(2).alias("snap"), "doc_id",
        F.round("val", 4).alias("val"),
    )
    return s1.unionByName(s2).orderBy("snap", "doc_id")


# --------------------------------------------------------------------------
# Q216: Delta deletion-vector READ (sources/roaring + sources/delta) —
# the modern-writer default feature (delta-spark >= 3.x)
# --------------------------------------------------------------------------
def _delta_dv_fixture(spark, sf_dir, key):
    """_delta_fixture's sibling carrying REAL deletion vectors: v0 =
    4 hive part files for doc_id<200 (rows sorted by doc_id, val =
    doc_id*0.5); v1 = uuid-SIDECAR DV on part=0 deleting the rows with
    doc_id%8==0; v2 = INLINE DV on part=1 deleting doc_id%8==1. DV
    bytes are spec framing end to end: portable RoaringBitmapArray +
    magic, CRC-checked file storage for 'u', Z85 for both."""
    import hashlib as _hl
    import os as _os
    import shutil as _sh
    import tempfile as _tmp
    import uuid as _uu

    import pyarrow as _pa
    import pyarrow.parquet as _pq
    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StructField, StructType,
    )

    from ..sources import delta as DLT
    from ..sources import roaring as RBC

    base = _os.path.join(
        _tmp.gettempdir(),
        f"{key}_" + _hl.md5(sf_dir.encode()).hexdigest()[:10],
    )
    _sh.rmtree(base, ignore_errors=True)
    root = _os.path.join(base, "table")
    ids = sorted(
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 200)
        .collect()
    )

    def write(rel, rows):
        _os.makedirs(
            _os.path.dirname(_os.path.join(root, rel)), exist_ok=True
        )
        _pq.write_table(
            _pa.table(
                {
                    "doc_id": _pa.array(rows, _pa.int64()),
                    "val": _pa.array(
                        [i * 0.5 for i in rows], _pa.float64()
                    ),
                }
            ),
            _os.path.join(root, rel),
        )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("part", IntegerType()),
            StructField("val", DoubleType()),
        ]
    )
    meta = {
        "metaData": {
            "id": key,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema.json(),
            "partitionColumns": ["part"],
            "configuration": {},
        }
    }
    proto = {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["deletionVectors"]}}

    def add(rel, p, dv=None):
        a = {
            "add": {
                "path": rel,
                "partitionValues": {"part": str(p)},
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
            }
        }
        if dv:
            a["add"]["deletionVector"] = dv
        return a

    by_part = {
        p: [i for i in ids if i % 4 == p] for p in range(4)
    }
    acts = [proto, meta]
    for p in range(4):
        write(f"part={p}/f0.parquet", by_part[p])
        acts.append(add(f"part={p}/f0.parquet", p))
    DLT.write_delta_commit(root, 0, acts)
    # v1: uuid-sidecar DV on part=0 — positions of doc_id%8==0 in the
    # file's sorted row order
    pos0 = [
        j for j, i in enumerate(by_part[0]) if i % 8 == 0
    ]
    u = _uu.UUID(int=int(_hl.md5(key.encode()).hexdigest(), 16) % (1 << 128))
    off, size, card = RBC.write_dv_file(
        _os.path.join(root, f"deletion_vector_{u}.bin"), pos0
    )
    DLT.write_delta_commit(
        root, 1,
        [{"remove": {"path": "part=0/f0.parquet", "dataChange": True}},
         add("part=0/f0.parquet", 0, {
             "storageType": "u",
             "pathOrInlineDv": RBC.make_uuid_descriptor_path(u),
             "offset": off, "sizeInBytes": size, "cardinality": card,
         })],
    )
    # v2: inline DV on part=1 — doc_id%8==1 positions
    pos1 = [j for j, i in enumerate(by_part[1]) if i % 8 == 1]
    data = RBC.encode_dv_data(pos1)
    DLT.write_delta_commit(
        root, 2,
        [{"remove": {"path": "part=1/f0.parquet", "dataChange": True}},
         add("part=1/f0.parquet", 1, {
             "storageType": "i",
             "pathOrInlineDv": RBC.z85_encode(data),
             "sizeInBytes": len(data), "cardinality": len(pos1),
         })],
    )
    return root


@_declare(
    "q216_delta_dv_read",
    """
    WITH base AS (SELECT doc_id, CAST(doc_id % 4 AS INT) part,
                         doc_id * 0.5 val
                  FROM documents WHERE doc_id < 200)
    SELECT 0 ver, part, CAST(COUNT(*) AS BIGINT) n,
           ROUND(SUM(val), 4) sum_val
    FROM base GROUP BY part
    UNION ALL
    SELECT 1, part, CAST(COUNT(*) AS BIGINT), ROUND(SUM(val), 4)
    FROM base WHERE NOT (part = 0 AND doc_id % 8 = 0) GROUP BY part
    UNION ALL
    SELECT 2, part, CAST(COUNT(*) AS BIGINT), ROUND(SUM(val), 4)
    FROM base WHERE NOT (part = 0 AND doc_id % 8 = 0)
                AND NOT (part = 1 AND doc_id % 8 = 1) GROUP BY part
    ORDER BY ver, part
    """,
)
def q216(spark, sf_dir):
    """DELETION-VECTOR read (What's-missing #1 of round 8, the
    delta-spark>=3.x default): a reader-version-3 table whose log
    carries a uuid-SIDECAR vector (v1, CRC-checked RoaringBitmapArray
    file via sources/roaring) and an INLINE Z85 vector (v2); each era
    read with time travel and aggregated per partition. The oracle
    recomputes every era from the deleted-id closed form — a reader
    that resurrected a deleted row, dropped a live one, or applied a
    vector in the wrong era breaks the hash. (Builder writes the
    fixture tree; by-name exemption in
    test_declaring_queries_runs_no_jobs.)"""
    from ..sources import delta as DLT

    root = _delta_dv_fixture(spark, sf_dir, "q216")
    eras = []
    for v in (0, 1, 2):
        eras.append(
            DLT.read_delta(spark, root, version=v)
            .groupBy("part")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("val"), 4).alias("sum_val"),
            )
            .withColumn("ver", F.lit(v))
        )
    out = eras[0]
    for e in eras[1:]:
        out = out.unionByName(e)
    return out.select("ver", "part", "n", "sum_val").orderBy(
        "ver", "part"
    )


# --------------------------------------------------------------------------
# Q217: Delta columnMapping.mode=name READ — physical-space scan,
# logical rename (What's-missing #3 of round 8)
# --------------------------------------------------------------------------
@_declare(
    "q217_delta_column_mapping",
    """
    SELECT CAST(doc_id % 4 AS INT) part, CAST(COUNT(*) AS BIGINT) n,
           ROUND(SUM(doc_id * 0.5), 4) sum_val
    FROM documents WHERE doc_id BETWEEN 40 AND 159
    GROUP BY doc_id % 4 ORDER BY part
    """,
)
def q217(spark, sf_dir):
    """COLUMN MAPPING read (mode=name): the fixture's parquet files,
    hive dirs, partitionValues keys and stats keys all use physical
    col-<uuid> names; only schemaString knows the logical ones. The
    read prunes through physical stats/partition keys from a LOGICAL
    where= predicate and returns the logical schema — a reader that
    scanned logical names (all-null columns), renamed wrong, or
    mistranslated the prune predicate breaks the hash. (Builder writes
    the fixture tree; by-name exemption in
    test_declaring_queries_runs_no_jobs.)"""
    import hashlib as _hl
    import json as _json
    import os as _os
    import shutil as _sh
    import tempfile as _tmp

    import pyarrow as _pa
    import pyarrow.parquet as _pq
    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StructField, StructType,
    )

    from ..sources import delta as DLT

    p_doc, p_part, p_val = "col-x1", "col-x2", "col-x3"
    schema = StructType(
        [
            StructField("doc_id", LongType(), True,
                        {"delta.columnMapping.id": 1,
                         "delta.columnMapping.physicalName": p_doc}),
            StructField("part", IntegerType(), True,
                        {"delta.columnMapping.id": 2,
                         "delta.columnMapping.physicalName": p_part}),
            StructField("val", DoubleType(), True,
                        {"delta.columnMapping.id": 3,
                         "delta.columnMapping.physicalName": p_val}),
        ]
    )
    base = _os.path.join(
        _tmp.gettempdir(),
        "q217_" + _hl.md5(sf_dir.encode()).hexdigest()[:10],
    )
    _sh.rmtree(base, ignore_errors=True)
    root = _os.path.join(base, "table")
    ids = sorted(
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 200)
        .collect()
    )
    acts = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "q217",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema.json(),
            "partitionColumns": ["part"],
            "configuration": {"delta.columnMapping.mode": "name"},
        }},
    ]
    for p in range(4):
        rows = [i for i in ids if i % 4 == p]
        rel = f"{p_part}={p}/f0.parquet"
        _os.makedirs(_os.path.join(root, f"{p_part}={p}"), exist_ok=True)
        _pq.write_table(
            _pa.table({
                p_doc: _pa.array(rows, _pa.int64()),
                p_val: _pa.array([i * 0.5 for i in rows], _pa.float64()),
            }),
            _os.path.join(root, rel),
        )
        acts.append({"add": {
            "path": rel,
            "partitionValues": {p_part: str(p)},
            "size": 1, "modificationTime": 0, "dataChange": True,
            "stats": _json.dumps({
                "minValues": {p_doc: min(rows) if rows else None},
                "maxValues": {p_doc: max(rows) if rows else None},
            }),
        }})
    DLT.write_delta_commit(root, 0, acts)
    got = DLT.read_delta(spark, root, where={"doc_id": (40, 159)})
    return (
        got.groupBy("part")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("val"), 4).alias("sum_val"),
        )
        .orderBy("part")
    )


# --------------------------------------------------------------------------
# Q218: publish an engine txn table AS Iceberg (write-side interop) —
# round-tripped through the from-spec reader, incl. schema evolution
# --------------------------------------------------------------------------
@_declare(
    "q218_publish_iceberg",
    """
    SELECT 1 era, CAST(COUNT(*) AS BIGINT) n,
           ROUND(SUM(doc_id * 0.5), 4) sum_val,
           CAST(0 AS BIGINT) n_tagged
    FROM documents WHERE doc_id < 200
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT), ROUND(SUM(doc_id * 0.5), 4),
           CAST(SUM(CASE WHEN doc_id >= 200 THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM documents WHERE doc_id < 300
    ORDER BY era
    """,
)
def q218(spark, sf_dir):
    """WRITE-SIDE interop (round-8 What's-missing #2): an engine txn
    table (two commits, the second evolving the schema with a ``tag``
    column) publishes AS an Iceberg metadata tree over the same data
    files — snapshots with non-monotonic ids + parent chain, ADDED
    manifests with footer bounds, two schemas with stable field ids —
    then THIS repo's from-spec reader serves both eras: era 1 time
    travel (pre-evolution rows null-fill ``tag`` under the current
    schema), era 2 current. The oracle recomputes both eras from
    documents; a publish that lost a file, mis-attributed a snapshot,
    or broke the schema mapping breaks the hash. (Builder runs txn
    commits + the publish; by-name exemption in
    test_declaring_queries_runs_no_jobs.)"""
    import hashlib as _hl
    import os as _os
    import shutil as _sh
    import tempfile as _tmp

    from .. import txnlog as TL
    from ..sources import iceberg as IB

    base = _os.path.join(
        _tmp.gettempdir(),
        "q218_" + _hl.md5(sf_dir.encode()).hexdigest()[:10],
    )
    _sh.rmtree(base, ignore_errors=True)
    root = _os.path.join(base, "table")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d1 = docs.filter(F.col("doc_id") < 200).select(
        "doc_id", (F.col("doc_id") * 0.5).alias("val")
    )
    d2 = docs.filter(
        (F.col("doc_id") >= 200) & (F.col("doc_id") < 300)
    ).select(
        "doc_id", (F.col("doc_id") * 0.5).alias("val"),
        F.concat(F.lit("t"), F.col("doc_id")).alias("tag"),
    )
    v1 = TL.txn_append(spark, d1, root, [])
    TL.txn_append(spark, d2, root, [], merge_schema=True)
    res = IB.publish_iceberg(spark, root)
    eras = []
    for era, sid in ((1, res["snapshots"][v1]), (2, None)):
        eras.append(
            IB.read_iceberg(spark, root, snapshot_id=sid)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("val"), 4).alias("sum_val"),
                F.count("tag").alias("n_tagged"),
            )
            .withColumn("era", F.lit(era))
        )
    out = eras[0].unionByName(eras[1])
    return out.select("era", "n", "sum_val", "n_tagged").orderBy("era")


# --------------------------------------------------------------------------
# Q219–Q220: EXTERNAL lakehouse tables as streaming sources
# (sources/external_stream) — delta_table exactly-once into the
# engine, iceberg_table lineage-ordered replay
# --------------------------------------------------------------------------
@_declare(
    "q219_delta_stream_ingest",
    """
    SELECT ver, CAST(COUNT(*) AS BIGINT) n, ROUND(SUM(val), 4) sum_val
    FROM (
      SELECT 0 ver, doc_id * 0.5 val FROM documents WHERE doc_id < 200
      UNION ALL
      SELECT 1, doc_id * 0.5 FROM documents
      WHERE doc_id >= 200 AND doc_id < 300
      UNION ALL
      SELECT 2, doc_id * 0.5 + 1000 FROM documents
      WHERE doc_id < 200 AND doc_id % 4 = 0
    ) GROUP BY ver ORDER BY ver
    """,
)
def q219(spark, sf_dir):
    """EXTERNAL Delta table → engine, streaming, EXACTLY-ONCE: the
    q207 fixture streams through readStream.format('delta_table')
    (offsets = commit versions, one task per file, rewrite commit
    consumed under explicit ignoreChanges) into the app-txn-stamped
    txn sink — then the WHOLE availableNow run repeats with a FRESH
    stream checkpoint (worst-case redelivery, every batch re-offered).
    The landed table must hash-match ONE copy of each commit's rows:
    a duplicate batch, a missed commit, or wrong version attribution
    breaks n/sum per ver. (Builder writes the fixture + runs two
    bounded streaming jobs; by-name exemption + q174 family.)"""
    import os as _os
    import shutil as _sh

    from .. import txnlog as TL
    from ..sources import external_stream as XS

    root = _delta_fixture(spark, sf_dir, "q219")
    XS.register(spark)
    base = _os.path.dirname(root)
    dest = _os.path.join(base, "dest")
    # r12: ONE source DataFrame, two .start()s — each start still spawns
    # its own stream reader (fresh offsets under its checkpoint), so the
    # redelivery semantics are untouched; only the second planner
    # round trip (create_data_source + schema probe) goes away.
    src = (
        spark.readStream.format("delta_table")
        .option("path", root)
        .option("ignoreChanges", "true")
        .load()
    )

    def _run(cp):
        q = (
            src.writeStream.foreachBatch(
                TL.streaming_sink(dest, [], app_id="q219")
            )
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)

    _run(_os.path.join(base, "cp1"))
    cp2 = _os.path.join(base, "cp2")
    _sh.rmtree(cp2, ignore_errors=True)
    _run(cp2)  # full redelivery: the app-txn ledger must refuse it
    got = TL.txn_read(spark, dest)
    return (
        got.groupBy(
            F.col("_commit_version").cast("int").alias("ver")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("val"), 4).alias("sum_val"),
        )
        .orderBy("ver")
    )


@_declare(
    "q220_iceberg_stream_ingest",
    """
    SELECT snap, CAST(COUNT(*) AS BIGINT) n, ROUND(SUM(val), 4) sum_val
    FROM (
      SELECT 1 snap, doc_id * 0.5 val FROM documents WHERE doc_id < 200
      UNION ALL
      SELECT 2, CASE WHEN doc_id < 200 THEN doc_id * 0.5 + 1000
                     ELSE doc_id * 0.5 END
      FROM documents
      WHERE (doc_id < 200 AND doc_id % 4 = 0)
         OR (doc_id >= 200 AND doc_id < 300)
    ) GROUP BY snap ORDER BY snap
    """,
)
def q220(spark, sf_dir):
    """EXTERNAL Iceberg table as a STREAM: the q211 fixture replays
    through readStream.format('iceberg_table') — offsets are LINEAGE
    positions (parent-chain/snapshot-log, never numeric id order),
    each snapshot's batch is exactly its ADDED manifest entries
    (DELETED tombstones consumed under explicit ignoreChanges,
    EXISTING carried entries never re-emitted), one task per data
    file. Aggregated per _snapshot_id and oracled by both snapshots'
    closed forms. (Builder writes the fixture + runs one bounded
    streaming job; by-name exemption, q155 family.)"""
    import os as _os

    from ..sources import external_stream as XS

    root = _iceberg_fixture(spark, sf_dir, "q220")
    XS.register(spark)
    base = _os.path.dirname(root)
    out = _os.path.join(base, "out")
    q = (
        spark.readStream.format("iceberg_table")
        .option("path", root)
        .option("ignoreChanges", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", _os.path.join(base, "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    got = spark.read.parquet(out)
    return (
        got.groupBy(F.col("_snapshot_id").cast("int").alias("snap"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("val"), 4).alias("sum_val"),
        )
        .orderBy("snap")
    )


# --------------------------------------------------------------------------
# Q221: CORPUS-SCALE ANN serving — the distributed query path (no
# driver collect on the query side; round-8 verdict item #6)
# --------------------------------------------------------------------------
@_declare(
    "q221_ann_distributed_query",
    f"""
    WITH {_ANN_V_CTE},
    scored AS (
      SELECT q.doc_id query_id, c.doc_id neighbor_id,
             q.x1*c.x1 + q.x2*c.x2 + q.x3*c.x3 + q.x4*c.x4 adc_score,
             ROW_NUMBER() OVER (
               PARTITION BY q.doc_id
               ORDER BY q.x1*c.x1 + q.x2*c.x2 + q.x3*c.x3 + q.x4*c.x4
                        DESC, c.doc_id ASC) rk
      FROM v q JOIN v c ON c.doc_id <> q.doc_id)
    SELECT query_id, CAST(rk AS INT) rank, neighbor_id, adc_score
    FROM scored WHERE rk <= 1
    ORDER BY query_id
    """,
)
def q221(spark, sf_dir):
    """INDEX-TO-INDEX ANN: the WHOLE corpus is the query side, served
    by query_ann_index_distributed from the persisted tier — query
    cell assignment map-side, ONE cogroup-by-cell shuffle against the
    cell-partitioned codes table, per-group vectorized LUT/ADC, exact
    global top-1 window; NO driver collect anywhere on the query side
    (the full-corpus-top-1 shape SemDeDup needs at 100 TB; the
    serving-path twin q204 keeps the bounded-collect contract). The
    oracle recomputes every pair's dot product — identical rows to
    the serving path by the shared total order. (Builder runs the
    index build; by-name exemption in
    test_declaring_queries_runs_no_jobs.)"""
    from ..operators import ann_index as AI

    root = _ann_workdir("q221", sf_dir)
    vecs = _ann_vecs(spark, sf_dir)
    AI.build_ann_index(
        spark, root, vecs, codebooks=_ANN_BOOKS, centroids=_ANN_CENTS
    )
    return AI.query_ann_index_distributed(
        spark, root, vecs, k=1, n_probe=1
    ).orderBy("query_id")


# --------------------------------------------------------------------------
# Q222: publish an engine txn table AS Delta — incl. REAL deletion-
# vector export (txn sidecars → spec-framed descriptors)
# --------------------------------------------------------------------------
@_declare(
    "q222_publish_delta",
    """
    SELECT 0 ver, CAST(COUNT(*) AS BIGINT) n,
           ROUND(SUM(doc_id * 0.5), 4) sum_val
    FROM documents WHERE doc_id < 200
    UNION ALL
    SELECT 1, CAST(COUNT(*) AS BIGINT), ROUND(SUM(doc_id * 0.5), 4)
    FROM documents WHERE doc_id < 200 AND doc_id % 5 <> 0
    ORDER BY ver
    """,
)
def q222(spark, sf_dir):
    """WRITE-SIDE Delta interop (q218's twin, closing the round-8
    follow-on): an engine txn table — append, then a txn DELETE that
    leaves deletion-vector sidecars — publishes AS a _delta_log over
    the same files; the txn vectors export as spec-framed
    RoaringBitmapArray descriptors in one CRC-checked sidecar, the
    protocol auto-upgrades to reader 3 + deletionVectors, and the
    from-spec Delta reader serves BOTH eras (pre-delete via Delta time
    travel, post-delete with the vectors applied). Oracled by the
    deleted-id closed forms — an export that resurrected a deleted row
    or leaked the delete into era 0 breaks the hash. (Builder runs txn
    commits + the publish; by-name exemption in
    test_declaring_queries_runs_no_jobs.)"""
    import hashlib as _hl
    import os as _os
    import shutil as _sh
    import tempfile as _tmp

    from .. import txnlog as TL
    from ..sources import delta as DLT

    base = _os.path.join(
        _tmp.gettempdir(),
        "q222_" + _hl.md5(sf_dir.encode()).hexdigest()[:10],
    )
    _sh.rmtree(base, ignore_errors=True)
    root = _os.path.join(base, "table")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = docs.filter(F.col("doc_id") < 200).select(
        "doc_id", (F.col("doc_id") * 0.5).alias("val")
    )
    TL.txn_append(spark, d.repartition(4), root, [])
    TL.txn_delete(spark, root, F.col("doc_id") % 5 == 0)
    DLT.publish_delta(spark, root)
    eras = []
    for v in (0, 1):
        eras.append(
            DLT.read_delta(spark, root, version=v)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("val"), 4).alias("sum_val"),
            )
            .withColumn("ver", F.lit(v))
        )
    return (
        eras[0].unionByName(eras[1])
        .select("ver", "n", "sum_val")
        .orderBy("ver")
    )


# --------------------------------------------------------------------------
# Q223: Iceberg v2 POSITION-DELETE round trip — txn DVs exported as
# merge-on-read deletes, read back era-correct
# --------------------------------------------------------------------------
@_declare(
    "q223_iceberg_position_deletes",
    """
    SELECT 1 era, CAST(COUNT(*) AS BIGINT) n,
           ROUND(SUM(doc_id * 0.5), 4) sum_val
    FROM documents WHERE doc_id < 200
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT), ROUND(SUM(doc_id * 0.5), 4)
    FROM documents WHERE doc_id < 200 AND doc_id % 5 <> 0
    UNION ALL
    SELECT 3, CAST(COUNT(*) AS BIGINT), ROUND(SUM(doc_id * 0.5), 4)
    FROM documents
    WHERE (doc_id < 200 AND doc_id % 5 <> 0)
       OR (doc_id >= 200 AND doc_id < 230)
    ORDER BY era
    """,
)
def q223(spark, sf_dir):
    """ICEBERG MERGE-ON-READ (q222's Iceberg twin): a txn table with
    an append, a deletion-vector DELETE, and a post-delete append
    publishes as a v2 tree whose second snapshot carries a POSITION-
    DELETE parquet behind a content=1 manifest; read_iceberg applies
    it under the spec's sequence-number rule — era 1 pre-delete, era
    2 post-delete, era 3 with LATER rows whose files the older delete
    must NOT touch (their sequence number is newer, though their
    row positions collide). Oracled by the three closed forms.
    (Builder runs txn commits + the publish; by-name exemption in
    test_declaring_queries_runs_no_jobs.)"""
    import hashlib as _hl
    import os as _os
    import shutil as _sh
    import tempfile as _tmp

    from .. import txnlog as TL
    from ..sources import iceberg as IB

    base = _os.path.join(
        _tmp.gettempdir(),
        "q223_" + _hl.md5(sf_dir.encode()).hexdigest()[:10],
    )
    _sh.rmtree(base, ignore_errors=True)
    root = _os.path.join(base, "table")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d1 = docs.filter(F.col("doc_id") < 200).select(
        "doc_id", (F.col("doc_id") * 0.5).alias("val")
    )
    d3 = docs.filter(
        (F.col("doc_id") >= 200) & (F.col("doc_id") < 230)
    ).select("doc_id", (F.col("doc_id") * 0.5).alias("val"))
    TL.txn_append(spark, d1.repartition(4), root, [])
    TL.txn_delete(spark, root, F.col("doc_id") % 5 == 0)
    TL.txn_append(spark, d3, root, [])
    res = IB.publish_iceberg(spark, root)
    eras = []
    for era, v in ((1, 1), (2, 2), (3, 3)):
        eras.append(
            IB.read_iceberg(
                spark, root, snapshot_id=res["snapshots"][v]
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("val"), 4).alias("sum_val"),
            )
            .withColumn("era", F.lit(era))
        )
    out = eras[0]
    for e in eras[1:]:
        out = out.unionByName(e)
    return out.select("era", "n", "sum_val").orderBy("era")


# --------------------------------------------------------------------------
# Q224: Delta columnMapping.mode=id — parquet FIELD-ID matching
# (files from before a column rename keep reading)
# --------------------------------------------------------------------------
@_declare(
    "q224_delta_column_mapping_id",
    """
    SELECT CAST(doc_id % 2 AS INT) part, CAST(COUNT(*) AS BIGINT) n,
           ROUND(SUM(doc_id * 0.5), 4) sum_val
    FROM documents WHERE doc_id < 160
    GROUP BY doc_id % 2 ORDER BY part
    """,
)
def q224(spark, sf_dir):
    """COLUMN MAPPING mode=id (q217's harder sibling): the two part
    files carry DIFFERENT physical column names (one written before a
    rename, one after) but the same parquet FIELD IDS — name matching
    cannot read this table, id matching must. The read returns the
    logical schema with every row present; a reader that matched by
    name (all-null columns from the pre-rename file) breaks the hash.
    (Builder writes the fixture tree; by-name exemption in
    test_declaring_queries_runs_no_jobs.)"""
    import hashlib as _hl
    import json as _json
    import os as _os
    import shutil as _sh
    import tempfile as _tmp

    import pyarrow as _pa
    import pyarrow.parquet as _pq
    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StructField, StructType,
    )

    from ..sources import delta as DLT

    p_part = "col-p1"
    schema = StructType(
        [
            StructField("doc_id", LongType(), True,
                        {"delta.columnMapping.id": 1,
                         "delta.columnMapping.physicalName": "col-d-new"}),
            StructField("part", IntegerType(), True,
                        {"delta.columnMapping.id": 2,
                         "delta.columnMapping.physicalName": p_part}),
            StructField("val", DoubleType(), True,
                        {"delta.columnMapping.id": 3,
                         "delta.columnMapping.physicalName": "col-v-new"}),
        ]
    )
    base = _os.path.join(
        _tmp.gettempdir(),
        "q224_" + _hl.md5(sf_dir.encode()).hexdigest()[:10],
    )
    _sh.rmtree(base, ignore_errors=True)
    root = _os.path.join(base, "table")
    ids = sorted(
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 160)
        .collect()
    )

    def write(rel, rows, names):
        dname, vname = names
        _os.makedirs(
            _os.path.dirname(_os.path.join(root, rel)), exist_ok=True
        )
        sch = _pa.schema(
            [
                _pa.field(dname, _pa.int64(),
                          metadata={b"PARQUET:field_id": b"1"}),
                _pa.field(vname, _pa.float64(),
                          metadata={b"PARQUET:field_id": b"3"}),
            ]
        )
        _pq.write_table(
            _pa.table(
                {
                    dname: _pa.array(rows, _pa.int64()),
                    vname: _pa.array(
                        [i * 0.5 for i in rows], _pa.float64()
                    ),
                },
                schema=sch,
            ),
            _os.path.join(root, rel),
        )

    # part 0: PRE-rename physical names; part 1: post-rename
    write(f"{p_part}=0/f0.parquet",
          [i for i in ids if i % 2 == 0], ("col-d-old", "col-v-old"))
    write(f"{p_part}=1/f1.parquet",
          [i for i in ids if i % 2 == 1], ("col-d-new", "col-v-new"))
    acts = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "q224",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema.json(),
            "partitionColumns": ["part"],
            "configuration": {"delta.columnMapping.mode": "id"},
        }},
    ]
    for p in range(2):
        acts.append({"add": {
            "path": f"{p_part}={p}/f{p}.parquet",
            "partitionValues": {p_part: str(p)},
            "size": 1, "modificationTime": 0, "dataChange": True,
            "stats": _json.dumps({}),
        }})
    DLT.write_delta_commit(root, 0, acts)
    got = DLT.read_delta(spark, root)
    return (
        got.groupBy("part")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("val"), 4).alias("sum_val"),
        )
        .orderBy("part")
    )


def _delta_cdf_fixture(spark, sf_dir, key):
    """CDF fixture shared by q225 (batch delta_cdf) and q228 (the
    streaming change feed): v0 inserts doc_id<200 (val=doc_id*0.5);
    v1 UPDATES the %7==0 rows (val+500) as a rewrite commit carrying
    the cdc action + _change_data file with exact pre/post images."""
    import hashlib as _hl
    import os as _os
    import shutil as _sh
    import tempfile as _tmp

    import pyarrow as _pa
    import pyarrow.parquet as _pq
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    from ..sources import delta as DLT

    base = _os.path.join(
        _tmp.gettempdir(),
        f"{key}_" + _hl.md5(sf_dir.encode()).hexdigest()[:10],
    )
    _sh.rmtree(base, ignore_errors=True)
    root = _os.path.join(base, "table")
    ids = sorted(
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 200)
        .collect()
    )
    upd = [i for i in ids if i % 7 == 0]
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("val", DoubleType())]
    )

    def write(rel, cols):
        _os.makedirs(
            _os.path.dirname(_os.path.join(root, rel)), exist_ok=True
        )
        _pq.write_table(_pa.table(cols), _os.path.join(root, rel))

    write("f0.parquet", {
        "doc_id": _pa.array(ids, _pa.int64()),
        "val": _pa.array([i * 0.5 for i in ids], _pa.float64()),
    })
    DLT.write_delta_commit(
        root, 0,
        [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
         {"metaData": {
             "id": key,
             "format": {"provider": "parquet", "options": {}},
             "schemaString": schema.json(),
             "partitionColumns": [],
             "configuration": {"delta.enableChangeDataFeed": "true"},
         }},
         {"add": {"path": "f0.parquet", "partitionValues": {},
                  "size": 1, "modificationTime": 0,
                  "dataChange": True}}],
    )
    write("f1.parquet", {
        "doc_id": _pa.array(ids, _pa.int64()),
        "val": _pa.array(
            [i * 0.5 + (500 if i % 7 == 0 else 0) for i in ids],
            _pa.float64(),
        ),
    })
    write("_change_data/cdc-0.parquet", {
        "doc_id": _pa.array(upd + upd, _pa.int64()),
        "val": _pa.array(
            [i * 0.5 for i in upd] + [i * 0.5 + 500 for i in upd],
            _pa.float64(),
        ),
        "_change_type": _pa.array(
            ["update_preimage"] * len(upd)
            + ["update_postimage"] * len(upd),
            _pa.string(),
        ),
    })
    DLT.write_delta_commit(
        root, 1,
        [{"remove": {"path": "f0.parquet", "dataChange": True}},
         {"add": {"path": "f1.parquet", "partitionValues": {},
                  "size": 1, "modificationTime": 0,
                  "dataChange": True}},
         {"cdc": {"path": "_change_data/cdc-0.parquet",
                  "partitionValues": {}, "size": 1,
                  "dataChange": False}}],
    )
    return root


# --------------------------------------------------------------------------
# Q225: Delta CHANGE DATA FEED read (cdc actions + _change_data files)
# --------------------------------------------------------------------------
@_declare(
    "q225_delta_cdf",
    """
    SELECT ver, ct, CAST(COUNT(*) AS BIGINT) n,
           ROUND(SUM(val), 4) sum_val
    FROM (
      SELECT 0 ver, 'insert' ct, doc_id * 0.5 val
      FROM documents WHERE doc_id < 200
      UNION ALL
      SELECT 1, 'update_preimage', doc_id * 0.5
      FROM documents WHERE doc_id < 200 AND doc_id % 7 = 0
      UNION ALL
      SELECT 1, 'update_postimage', doc_id * 0.5 + 500
      FROM documents WHERE doc_id < 200 AND doc_id % 7 = 0
    ) GROUP BY ver, ct ORDER BY ver, ct
    """,
)
def q225(spark, sf_dir):
    """CHANGE DATA FEED read (delta.enableChangeDataFeed tables): an
    UPDATE commit's cdc action serves its _change_data file's exact
    pre/post images (the add/remove rewrite in the same commit is
    ignored for CDC, per spec) while the CDF-less insert commit emits
    inserts — both tagged with commit version and change type,
    oracled by the closed forms. A reader that reconstructed the
    update from add/remove (re-emitting all 200 rows) or leaked the
    rewrite add breaks the hash. (Builder writes the fixture tree;
    by-name exemption in test_declaring_queries_runs_no_jobs.)"""
    from ..sources import delta as DLT

    root = _delta_cdf_fixture(spark, sf_dir, "q225")
    feed = DLT.delta_cdf(spark, root, None)
    return (
        feed.groupBy(
            F.col("_commit_version").cast("int").alias("ver"),
            F.col("_change_type").alias("ct"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("val"), 4).alias("sum_val"),
        )
        .orderBy("ver", "ct")
    )


# --------------------------------------------------------------------------
# Q226: Iceberg v2 EQUALITY deletes — null-safe value matching under
# the strict sequence rule
# --------------------------------------------------------------------------
@_declare(
    "q226_iceberg_equality_deletes",
    """
    SELECT CAST(COUNT(*) AS BIGINT) n, ROUND(SUM(val), 4) sum_val,
           CAST(SUM(CASE WHEN doc_id % 9 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) n_mod9
    FROM (
      SELECT doc_id, doc_id * 0.5 val FROM documents
      WHERE doc_id < 200 AND doc_id % 9 <> 0
      UNION ALL
      SELECT doc_id, doc_id * 0.5 + 1000 FROM documents
      WHERE doc_id < 40 AND doc_id % 9 = 0
    )
    """,
)
def q226(spark, sf_dir):
    """EQUALITY deletes (Iceberg v2 merge-on-read's second kind): an
    equality-delete file on doc_id (seq 2) removes the %9==0 rows
    from the seq-1 data file, while a seq-3 file RE-INSERTS some of
    those very ids (bumped vals) — the strict dseq > fseq rule must
    keep them. The single-hash aggregate counts surviving %9 rows, so
    a reader that applied the delete to the newer file (or missed a
    match in the older one) breaks it. (Builder writes the fixture
    tree; by-name exemption in test_declaring_queries_runs_no_jobs.)"""
    import hashlib as _hl
    import os as _os
    import shutil as _sh
    import tempfile as _tmp

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from ..sources import iceberg as IB

    base = _os.path.join(
        _tmp.gettempdir(),
        "q226_" + _hl.md5(sf_dir.encode()).hexdigest()[:10],
    )
    _sh.rmtree(base, ignore_errors=True)
    root = _os.path.join(base, "table")
    ids = sorted(
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 200)
        .collect()
    )
    fields = [
        {"id": 1, "name": "doc_id", "required": False, "type": "long"},
        {"id": 2, "name": "val", "required": False, "type": "double"},
    ]

    def write(rel, rows, bump=0.0):
        full = _os.path.join(root, rel)
        _os.makedirs(_os.path.dirname(full), exist_ok=True)
        _pq.write_table(
            _pa.table(
                {
                    "doc_id": _pa.array(rows, _pa.int64()),
                    "val": _pa.array(
                        [i * 0.5 + bump for i in rows], _pa.float64()
                    ),
                }
            ),
            full,
        )

    write("data/A.parquet", ids)
    dead = [i for i in ids if i % 9 == 0]
    _os.makedirs(_os.path.join(root, "data"), exist_ok=True)
    _pq.write_table(
        _pa.table({"doc_id": _pa.array(dead, _pa.int64())}),
        _os.path.join(root, "data", "eqdel.parquet"),
    )
    reins = [i for i in dead if i < 40]
    write("data/B.parquet", reins, bump=1000.0)
    IB.write_manifest(root, "mA.avro", [(1, "data/A.parquet")], 1,
                      schema_fields=fields)
    IB.write_manifest(
        root, "mE.avro", [(1, "data/eqdel.parquet")], 1,
        entry_content=2, equality_ids=[1],
    )
    IB.write_manifest(root, "mB.avro", [(1, "data/B.parquet")], 1,
                      schema_fields=fields)
    IB.write_manifest_list(
        root, "s1.avro",
        [("mA.avro", 1, 0, 1), ("mE.avro", 1, 1, 2),
         ("mB.avro", 1, 0, 3)],
        1,
    )
    IB.write_metadata(
        root, 1, fields,
        [{"snapshot-id": 1, "manifest-list": "metadata/s1.avro"}],
        current_snapshot_id=1,
    )
    got = IB.read_iceberg(spark, root)
    return got.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("val"), 4).alias("sum_val"),
        F.sum(
            (F.col("doc_id") % 9 == 0).cast("long")
        ).alias("n_mod9"),
    )


# --------------------------------------------------------------------------
# Q227: zero-copy adopt of a DV-carrying Delta table — vectors convert
# into engine deletion vectors (bare adoption would resurrect rows)
# --------------------------------------------------------------------------
@_declare(
    "q227_delta_dv_adopt",
    """
    SELECT CAST(doc_id % 4 AS INT) part, CAST(COUNT(*) AS BIGINT) n,
           ROUND(SUM(doc_id * 0.5), 4) sum_val
    FROM documents
    WHERE doc_id < 200
      AND NOT (doc_id % 4 = 0 AND doc_id % 8 = 0)
      AND NOT (doc_id % 4 = 1 AND doc_id % 8 = 1)
    GROUP BY doc_id % 4 ORDER BY part
    """,
)
def q227(spark, sf_dir):
    """ADOPT + DELETION VECTORS composed: the q216 fixture (uuid and
    inline vectors over two files) adopts ZERO-COPY into a txn table —
    the Delta vectors CONVERT into engine _dv sidecars on the adopt
    commit — and the engine-native txn_read aggregate must equal the
    deleted-id closed form. A bare adoption (files without vectors)
    resurrects the %8 rows and breaks the hash; a conversion that
    dropped a live row breaks it the other way. (Builder writes the
    fixture + runs the adopt; by-name exemption in
    test_declaring_queries_runs_no_jobs.)"""
    from .. import txnlog as TL
    from ..sources import delta as DLT

    root = _delta_dv_fixture(spark, sf_dir, "q227")
    DLT.adopt_delta(spark, root, root)
    got = TL.txn_read(spark, root)
    return (
        got.select(F.col("part").cast("int").alias("part"), "val")
        .groupBy("part")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("val"), 4).alias("sum_val"),
        )
        .orderBy("part")
    )


# --------------------------------------------------------------------------
# Q228: STREAMING change feed, paced — readChangeFeed=true +
# maxFilesPerTrigger=1 drained slice-per-run through one checkpoint
# --------------------------------------------------------------------------
@_declare(
    "q228_delta_cdf_stream",
    """
    SELECT ver, ct, CAST(COUNT(*) AS BIGINT) n,
           ROUND(SUM(val), 4) sum_val
    FROM (
      SELECT 0 ver, 'insert' ct, doc_id * 0.5 val
      FROM documents WHERE doc_id < 200
      UNION ALL
      SELECT 1, 'update_preimage', doc_id * 0.5
      FROM documents WHERE doc_id < 200 AND doc_id % 7 = 0
      UNION ALL
      SELECT 1, 'update_postimage', doc_id * 0.5 + 500
      FROM documents WHERE doc_id < 200 AND doc_id % 7 = 0
    ) GROUP BY ver, ct ORDER BY ver, ct
    """,
)
def q228(spark, sf_dir):
    """The STREAMING change feed under admission control: the q225
    fixture replays through readStream.format('delta_table') with
    readChangeFeed=true AND maxFilesPerTrigger=1 — each availableNow
    run drains ONE paced slice (the Python source API caps a run at
    one captured latestOffset), so the full feed takes repeated runs
    resuming from ONE checkpoint. The landed rows must equal the
    batch delta_cdf feed exactly: a pacing cursor that skipped or
    re-planned a commit across restarts, an insert tagged from the
    wrong commit, or a cdc file served twice all break the per-
    (version, change-type) hash. (Builder writes the fixture + runs
    bounded streaming jobs; by-name exemption, q219 family.)"""
    import os as _os

    from ..sources import external_stream as XS

    import json as _json

    root = _delta_cdf_fixture(spark, sf_dir, "q228")
    XS.register(spark)
    base = _os.path.dirname(root)
    cp, out = _os.path.join(base, "cp"), _os.path.join(base, "out")
    # r12: the source DataFrame is built ONCE and re-started per run —
    # each .start() still spawns a fresh reader (its own pacing cursor)
    # resuming from the shared checkpoint, so the drained slices are
    # unchanged; only the per-iteration plan re-build goes away. The
    # caught-up check reads the checkpoint's own offset log (the
    # stream's durable position — what a real operator polls) instead
    # of re-scanning the landed parquet with a Spark job per run.
    src = (
        spark.readStream.format("delta_table")
        .option("path", root)
        .option("readChangeFeed", "true")
        .option("maxFilesPerTrigger", "1")
        .load()
    )

    def _drained_to():
        odir = _os.path.join(cp, "offsets")
        try:
            batches = sorted(int(f) for f in _os.listdir(odir) if f.isdigit())
        except FileNotFoundError:
            return -1
        with open(_os.path.join(odir, str(batches[-1]))) as f:
            last = [ln for ln in f.read().splitlines() if ln.strip()][-1]
        off = _json.loads(last)
        if isinstance(off, str):  # sometimes double-encoded
            off = _json.loads(off)
        return int(off["v"])

    for _ in range(4):  # 2 slices + the caught-up check run
        q = (
            src.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        if _drained_to() >= 1:
            break
    return (
        spark.read.parquet(out)
        .groupBy(
            F.col("_commit_version").cast("int").alias("ver"),
            F.col("_change_type").alias("ct"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("val"), 4).alias("sum_val"),
        )
        .orderBy("ver", "ct")
    )


# --------------------------------------------------------------------------
# Q229: STREAMING Delta WRITER — delta_table source → foreachBatch
# delta_streaming_sink, exactly-once via SetTransaction under
# worst-case redelivery, served back by the Delta reader
# --------------------------------------------------------------------------
@_declare(
    "q229_delta_stream_sink",
    """
    SELECT ver, CAST(COUNT(*) AS BIGINT) n, ROUND(SUM(val), 4) sum_val
    FROM (
      SELECT 0 ver, doc_id * 0.5 val FROM documents WHERE doc_id < 200
      UNION ALL
      SELECT 1, doc_id * 0.5 FROM documents
      WHERE doc_id >= 200 AND doc_id < 300
      UNION ALL
      SELECT 2, doc_id * 0.5 + 1000 FROM documents
      WHERE doc_id < 200 AND doc_id % 4 = 0
    ) GROUP BY ver ORDER BY ver
    """,
)
def q229(spark, sf_dir):
    """The WRITE-side streaming interop capstone: the q219 fixture
    streams through readStream.format('delta_table') into
    delta_streaming_sink — a NEW external Delta table written commit
    by commit, each carrying the spec's SetTransaction ledger entry —
    then the WHOLE availableNow run repeats with a FRESH stream
    checkpoint (worst-case redelivery, every batch re-offered; the
    ledger must refuse each one), and the landed table is served by
    read_delta. A duplicate batch doubles a ver's n; a lost commit-
    race retry or dropped add breaks sum_val; stats/partition
    plumbing errors break the scan. Oracle = q219's closed form — the
    two sinks (engine txn vs external Delta) must agree exactly.
    (Builder writes fixtures + runs two bounded streaming jobs;
    by-name exemption, q219 family.)"""
    import os as _os
    import shutil as _sh

    from ..sources import delta as DLT
    from ..sources import external_stream as XS

    root = _delta_fixture(spark, sf_dir, "q229")
    XS.register(spark)
    base = _os.path.dirname(root)
    dest = _os.path.join(base, "dest")
    # one source DataFrame, two starts (r12, q219 pattern)
    src = (
        spark.readStream.format("delta_table")
        .option("path", root)
        .option("ignoreChanges", "true")
        .load()
    )

    def _run(cp):
        q = (
            src.writeStream.foreachBatch(
                DLT.delta_streaming_sink(dest, "q229-app")
            )
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)

    _run(_os.path.join(base, "cp1"))
    cp2 = _os.path.join(base, "cp2")
    _sh.rmtree(cp2, ignore_errors=True)
    _run(cp2)  # full redelivery: the SetTransaction ledger refuses it
    got = DLT.read_delta(spark, dest)
    return (
        got.groupBy(F.col("_commit_version").cast("int").alias("ver"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("val"), 4).alias("sum_val"),
        )
        .orderBy("ver")
    )


# --------------------------------------------------------------------------
# Q231: STREAMING Iceberg WRITER — Delta source → foreachBatch
# iceberg_streaming_sink (snapshot-summary ledger), exactly-once
# under worst-case redelivery, served back by the Iceberg reader
# --------------------------------------------------------------------------
@_declare(
    "q231_iceberg_stream_sink",
    """
    SELECT ver, CAST(COUNT(*) AS BIGINT) n, ROUND(SUM(val), 4) sum_val
    FROM (
      SELECT 0 ver, doc_id * 0.5 val FROM documents WHERE doc_id < 200
      UNION ALL
      SELECT 1, doc_id * 0.5 FROM documents
      WHERE doc_id >= 200 AND doc_id < 300
      UNION ALL
      SELECT 2, doc_id * 0.5 + 1000 FROM documents
      WHERE doc_id < 200 AND doc_id % 4 = 0
    ) GROUP BY ver ORDER BY ver
    """,
)
def q231(spark, sf_dir):
    """q229's CROSS-FORMAT twin: the q219 Delta fixture streams
    through readStream.format('delta_table') into
    iceberg_streaming_sink — each batch appends one Iceberg snapshot
    whose SUMMARY carries the engine-app/batch ledger (the spec's
    place for engine bookkeeping), manifests carry footer bounds,
    the parent chain extends in lineage order with non-monotonic
    ids. The whole availableNow run then repeats with a FRESH stream
    checkpoint (worst-case redelivery; the summary ledger must
    refuse every batch), and read_iceberg serves the landed table.
    Oracle = q219's closed form — Delta source, Iceberg sink, engine
    txn sink all agree exactly. (Builder writes fixtures + runs two
    bounded streaming jobs; by-name exemption, q219 family.)"""
    import os as _os
    import shutil as _sh

    from ..sources import external_stream as XS
    from ..sources import iceberg as IB

    root = _delta_fixture(spark, sf_dir, "q231")
    XS.register(spark)
    base = _os.path.dirname(root)
    dest = _os.path.join(base, "dest")
    # one source DataFrame, two starts (r12, q219 pattern)
    src = (
        spark.readStream.format("delta_table")
        .option("path", root)
        .option("ignoreChanges", "true")
        .load()
    )

    def _run(cp):
        q = (
            src.writeStream.foreachBatch(
                IB.iceberg_streaming_sink(dest, "q231-app")
            )
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)

    _run(_os.path.join(base, "cp1"))
    cp2 = _os.path.join(base, "cp2")
    _sh.rmtree(cp2, ignore_errors=True)
    _run(cp2)  # full redelivery: the summary ledger refuses it
    got = IB.read_iceberg(spark, dest)
    return (
        got.groupBy(F.col("_commit_version").cast("int").alias("ver"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("val"), 4).alias("sum_val"),
        )
        .orderBy("ver")
    )


# --------------------------------------------------------------------------
# Q233: ENGINE HISTORY → Delta CDF — publish_delta(change_data_feed)
# ships _change_data for DV versions; any CDF consumer replays the
# engine's exact row-level changes
# --------------------------------------------------------------------------
@_declare(
    "q233_publish_cdf",
    """
    SELECT ver, ct, CAST(COUNT(*) AS BIGINT) n,
           ROUND(SUM(val), 4) sum_val
    FROM (
      SELECT 0 ver, 'insert' ct, doc_id * 0.5 val
      FROM documents WHERE doc_id < 200
      UNION ALL
      SELECT 1, 'delete', doc_id * 0.5
      FROM documents WHERE doc_id < 200 AND doc_id % 3 = 0
      UNION ALL
      SELECT 2, 'update_preimage', doc_id * 0.5
      FROM documents WHERE doc_id < 200 AND doc_id % 7 = 1
        AND doc_id % 3 <> 0
      UNION ALL
      SELECT 2, 'update_postimage', doc_id * 0.5 + 500
      FROM documents WHERE doc_id < 200 AND doc_id % 7 = 1
        AND doc_id % 3 <> 0
    ) GROUP BY ver, ct ORDER BY ver, ct
    """,
)
def q233(spark, sf_dir):
    """The CDC migration loop CLOSED: an engine history (append →
    DV delete → DV update) publishes AS a Delta table WITH the change
    feed — each row-rewriting version ships its _change_data file
    (exact pre/post images recovered from the deletion vectors; no
    cdc was ever 'recorded', the immutable log reconstructs it) — and
    the standard delta_cdf read serves it, hash-matched against the
    closed forms. A publish that dropped a change file, tagged the
    wrong version, or leaked the DV'd adds into the feed breaks the
    hash. (Builder runs txn commits + the publish; by-name exemption,
    q219 family.)"""
    import hashlib as _hl
    import os as _os
    import shutil as _sh
    import tempfile as _tmp

    from .. import txnlog as TL
    from ..sources import delta as DLT

    base = _os.path.join(
        _tmp.gettempdir(),
        "q233_" + _hl.md5(sf_dir.encode()).hexdigest()[:10],
    )
    _sh.rmtree(base, ignore_errors=True)
    root = _os.path.join(base, "table")
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", (F.col("doc_id") * 0.5).alias("val"))
    )
    TL.txn_append(spark, docs, root, [])
    TL.txn_delete(spark, root, F.col("doc_id") % 3 == 0)
    TL.txn_update(
        spark, root, F.col("doc_id") % 7 == 1,
        {"val": F.col("val") + 500},
    )
    DLT.publish_delta(spark, root, change_data_feed=True)
    feed = DLT.delta_cdf(spark, root, None)
    return (
        feed.groupBy(
            F.col("_commit_version").cast("int").alias("ver"),
            F.col("_change_type").alias("ct"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("val"), 4).alias("sum_val"),
        )
        .orderBy("ver", "ct")
    )


# --------------------------------------------------------------------------
# Q232: Iceberg MAINTENANCE cycle — sink snapshots, OPTIMIZE as a
# replace snapshot, expire to the horizon — reads stay hash-exact
# --------------------------------------------------------------------------
@_declare(
    "q232_iceberg_maintenance",
    """
    SELECT CAST(COUNT(*) AS BIGINT) n, ROUND(SUM(doc_id * 0.5), 4) sum_val,
           CAST(MIN(doc_id) AS BIGINT) lo, CAST(MAX(doc_id) AS BIGINT) hi,
           CAST(COUNT(DISTINCT doc_id % 5) AS BIGINT) n_batches
    FROM documents WHERE doc_id < 300
    """,
)
def q232(spark, sf_dir):
    """q230's ICEBERG twin: 5 sink batches land doc_id<300 as
    per-snapshot small files; optimize_iceberg compacts them into a
    REPLACE snapshot (skipped by every incremental path — the spec's
    append-scan rule); expire_snapshots drops the pre-compaction
    history and reclaims the superseded originals, stamping the
    engine.expired-positions property that keeps streaming offsets
    absolute. The final read aggregates with min/max — a compaction
    that lost or doubled rows, an expiry that deleted a live file or
    a shared manifest mid-walk (the r9 fast-append bug class), or a
    broken property fold all break the hash. (Builder writes +
    maintains the table; by-name exemption, q219 family.)"""
    import hashlib as _hl
    import os as _os
    import shutil as _sh
    import tempfile as _tmp

    from ..sources import iceberg as IB

    base = _os.path.join(
        _tmp.gettempdir(),
        "q232_" + _hl.md5(sf_dir.encode()).hexdigest()[:10],
    )
    _sh.rmtree(base, ignore_errors=True)
    root = _os.path.join(base, "table")
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", (F.col("doc_id") * 0.5).alias("val"))
    )
    sink = IB.iceberg_streaming_sink(root, "q232-app")
    for b in range(5):
        sink(docs.filter(F.col("doc_id") % 5 == b), b)
    IB.optimize_iceberg(spark, root, target_file_bytes=1 << 30)
    IB.expire_snapshots(root, keep_snapshots=1)
    got = IB.read_iceberg(spark, root)
    return got.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("val"), 4).alias("sum_val"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
        F.countDistinct(F.col("doc_id") % 5).alias("n_batches"),
    )


# --------------------------------------------------------------------------
# Q230: Delta MAINTENANCE cycle — many small sink commits, then
# OPTIMIZE ZORDER (dataChange=false) → checkpoint → log cleanup →
# VACUUM, and the table still reads hash-exact
# --------------------------------------------------------------------------
@_declare(
    "q230_delta_maintenance",
    """
    SELECT CAST(doc_id % 3 AS INT) part, CAST(COUNT(*) AS BIGINT) n,
           ROUND(SUM(doc_id * 0.5), 4) sum_val,
           CAST(MIN(doc_id) AS BIGINT) lo, CAST(MAX(doc_id) AS BIGINT) hi
    FROM documents WHERE doc_id < 300
    GROUP BY doc_id % 3 ORDER BY part
    """,
)
def q230(spark, sf_dir):
    """The LONG-RUNNING-SINK maintenance cycle as one gate: 5 paced
    sink batches land doc_id<300 as many small hive files; OPTIMIZE
    ZORDER BY doc_id compacts them (dataChange=false — same rows, new
    layout) with fresh footer stats; a checkpoint + cleanup_delta_log
    drop every JSON commit (the snapshot AND SetTransaction ledger
    must fold from the checkpoint alone); vacuum_delta reclaims the
    superseded originals. The final read groups per partition with
    min/max — a compaction that lost or doubled rows, a vacuum that
    deleted a live file, or a checkpoint that mis-folded protocol/
    adds/txn all break the hash. (Builder writes + maintains the
    table; by-name exemption, q219 family.)"""
    import hashlib as _hl
    import os as _os
    import shutil as _sh
    import tempfile as _tmp

    from ..sources import delta as DLT

    base = _os.path.join(
        _tmp.gettempdir(),
        "q230_" + _hl.md5(sf_dir.encode()).hexdigest()[:10],
    )
    _sh.rmtree(base, ignore_errors=True)
    root = _os.path.join(base, "table")
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 300)
        .select(
            "doc_id",
            (F.col("doc_id") * 0.5).alias("val"),
            (F.col("doc_id") % 3).cast("int").alias("part"),
        )
    )
    sink = DLT.delta_streaming_sink(
        root, "q230-app", partition_by=["part"], checkpoint_every=None
    )
    for b in range(5):
        sink(docs.filter(F.col("doc_id") % 5 == b), b)
    DLT.optimize_delta(
        spark, root, target_file_bytes=1 << 30, zorder_by=["doc_id"]
    )
    DLT.write_delta_checkpoint(root, max(DLT.delta_versions(root)))
    DLT.cleanup_delta_log(root)
    DLT.vacuum_delta(root, keep_versions=1)
    got = DLT.read_delta(spark, root)
    return (
        got.groupBy(F.col("part").cast("int").alias("part"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("val"), 4).alias("sum_val"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
        )
        .orderBy("part")
    )


@_declare(
    "q234_catalog_external_table",
    """
    SELECT doc_id, CAST(doc_id % 4 AS INT) part,
           ROUND(CASE WHEN doc_id < 200 AND doc_id % 4 = 0
                      THEN doc_id * 0.5 + 1000
                      ELSE doc_id * 0.5 END, 4) val
    FROM documents WHERE doc_id < 300 ORDER BY doc_id
    """,
)
def q234(spark, sf_dir):
    """ENGINE CATALOG over external tables: the q207 Delta fixture
    registered BY NAME in a Datastream store's external-table catalog
    and served through the facade (Datastream.external_table →
    detect.open_table) — plus the SQL-view leg (attach_external_views;
    the returned plan reads through spark.sql over the attached view).
    Hash-exact vs q207's closed form proves the by-name path IS the
    direct read: format detection, catalog persistence (re-open of a
    fresh Datastream over the same root), and the session-catalog view
    all serve identical rows. (Builder writes the fixture tree +
    catalog; by-name exemption in
    test_declaring_queries_runs_no_jobs.)"""
    import hashlib as _hl
    import os as _os
    import shutil as _sh
    import tempfile as _tmp

    from ..api import Datastream

    root = _delta_fixture(spark, sf_dir, "q234")
    store = _os.path.join(
        _tmp.gettempdir(),
        "q234_store_" + _hl.md5(sf_dir.encode()).hexdigest()[:10],
    )
    _sh.rmtree(store, ignore_errors=True)
    ds = Datastream(spark, store)
    ds.register_external_table("docs_delta", root)
    # catalog persists: a FRESH engine over the same root serves it
    ds2 = Datastream(spark, store)
    assert [e["name"] for e in ds2.external_tables()] == ["docs_delta"]
    views = ds2.attach_external_views(prefix="ext_")
    assert views == ["ext_docs_delta"]
    return spark.sql(
        "SELECT doc_id, part, ROUND(val, 4) AS val "
        "FROM ext_docs_delta ORDER BY doc_id"
    )


@_declare(
    "q235_fileio_object_store",
    """
    SELECT doc_id, CAST(doc_id % 4 AS INT) part,
           ROUND(CASE WHEN doc_id < 200 AND doc_id % 4 = 0
                      THEN doc_id * 0.5 + 1000
                      ELSE doc_id * 0.5 END, 4) val
    FROM documents WHERE doc_id < 300 ORDER BY doc_id
    """,
)
def q235(spark, sf_dir):
    """READ-SIDE FileIO seam under the driver contract: the q207
    Delta fixture served through a registered FakeObjectStore —
    object verbs only (flat keys, whole/ranged GET, StartAfter
    listing); the ``fake…://`` root does not exist as a POSIX path,
    so ANY metadata read still touching os.*/open — driver or
    executor (checkpoint fold, commit JSONs, DV sidecars) — fails
    outright instead of passing. Hash-exact vs q207's closed form
    proves the seam is the read path, not a wrapper. (Builder writes
    the fixture tree; by-name exemption in
    test_declaring_queries_runs_no_jobs.)"""
    import hashlib as _hl
    import os as _os

    from ..sources import delta as DLT
    from ..sources import fileio as FIO

    root = _delta_fixture(spark, sf_dir, "q235")
    scheme = "fakeq235" + _hl.md5(sf_dir.encode()).hexdigest()[:6]
    store = FIO.FakeObjectStore(scheme, _os.path.dirname(root))
    FIO.register_fileio(scheme, store)
    try:
        df = (
            DLT.read_delta(spark, f"{scheme}://table")
            .select("doc_id", "part", F.round("val", 4).alias("val"))
            .orderBy("doc_id")
        )
        # force the metadata fold NOW (while the scheme is registered);
        # the data-plane scan in the returned plan reads the backing
        # parquet via spark_path, needing no registry at execution
        df.schema
        return df
    finally:
        FIO.unregister_fileio(scheme)


@_declare(
    "q236_fileio_hadoop_uri",
    """
    WITH eras AS (SELECT 0 ver, 200 upto, FALSE bumped
                  UNION ALL SELECT 2, 300, TRUE)
    SELECT CAST(e.ver AS INT) ver, CAST(COUNT(*) AS BIGINT) n,
           ROUND(SUM(CASE WHEN e.bumped AND d.doc_id < 200
                               AND d.doc_id % 4 = 0
                          THEN d.doc_id * 0.5 + 1000
                          ELSE d.doc_id * 0.5 END), 4) sum_val
    FROM eras e JOIN documents d ON d.doc_id < e.upto
    GROUP BY e.ver ORDER BY ver
    """,
)
def q236(spark, sf_dir):
    """HadoopFileIO under the driver contract: the q208 fixture read
    over a ``file://`` URI ROOT through the JVM FileSystem layer (the
    s3a/gs/abfss deployment shape — local fs stands in, same API),
    incl. time travel whose v0 era folds through commit JSONs and the
    head through the parquet checkpoint, all fetched via Hadoop
    open/listStatus instead of os.*. Two eras aggregated, oracled by
    their closed forms. (Builder writes the fixture tree; by-name
    exemption in test_declaring_queries_runs_no_jobs.)"""
    from ..sources import delta as DLT
    from ..sources import fileio as FIO

    root = _delta_fixture(spark, sf_dir, "q236")
    FIO.register_fileio("file", FIO.HadoopFileIO(spark))
    try:
        u = f"file://{root}"
        eras = []
        for ver in (0, 2):
            eras.append(
                DLT.read_delta(spark, u, version=ver)
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.round(F.sum("val"), 4).alias("sum_val"),
                )
                .select(
                    F.lit(ver).cast("int").alias("ver"), "n", "sum_val"
                )
            )
        out = eras[0].unionByName(eras[1]).orderBy("ver")
        out.schema  # fold both eras' metadata while registered
        return out
    finally:
        FIO.unregister_fileio("file")


@_declare(
    "q237_fileio_write_chain",
    """
    SELECT CAST(doc_id % 3 AS INT) part, CAST(COUNT(*) AS BIGINT) n,
           ROUND(SUM(doc_id * 0.5), 4) sum_val,
           CAST(MIN(doc_id) AS BIGINT) lo, CAST(MAX(doc_id) AS BIGINT) hi
    FROM documents WHERE doc_id < 300
    GROUP BY doc_id % 3 ORDER BY part
    """,
)
def q237(spark, sf_dir):
    """WRITE-SIDE FileIO seam under the driver contract (round 11):
    q230's ENTIRE maintenance cycle — 5 paced sink batches, OPTIMIZE
    ZORDER, checkpoint, log cleanup, VACUUM — runs against a
    registered FakeObjectStore root that does not exist as a POSIX
    path: data stages through Spark at spark_path and promotes via
    server-side copy+delete, every commit is the store's conditional
    PUT, maintenance lists/deletes through object verbs. Hash-exact
    vs q230's closed form proves the write seam is the write path,
    not a wrapper; ANY residual os.*/open on table-space paths fails
    outright. (Builder writes + maintains the table; by-name
    exemption, q230 family.)"""
    import hashlib as _hl
    import os as _os
    import shutil as _sh
    import tempfile as _tmp

    from ..sources import delta as DLT
    from ..sources import fileio as FIO

    tag = _hl.md5(sf_dir.encode()).hexdigest()[:10]
    backing = _os.path.join(_tmp.gettempdir(), f"q237_{tag}")
    _sh.rmtree(backing, ignore_errors=True)
    _os.makedirs(backing)
    scheme = f"fakeq237{tag[:6]}"
    store = FIO.FakeObjectStore(scheme, backing)
    FIO.register_fileio(scheme, store)
    try:
        root = f"{scheme}://table"
        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id")
            .filter(F.col("doc_id") < 300)
            .select(
                "doc_id",
                (F.col("doc_id") * 0.5).alias("val"),
                (F.col("doc_id") % 3).cast("int").alias("part"),
            )
        )
        sink = DLT.delta_streaming_sink(
            root, "q237-app", partition_by=["part"], checkpoint_every=None
        )
        for b in range(5):
            sink(docs.filter(F.col("doc_id") % 5 == b), b)
            sink(docs.filter(F.col("doc_id") % 5 == b), b)  # replay
        DLT.optimize_delta(
            spark, root, target_file_bytes=1 << 30, zorder_by=["doc_id"]
        )
        DLT.write_delta_checkpoint(root, max(DLT.delta_versions(root)))
        DLT.cleanup_delta_log(root)
        DLT.vacuum_delta(root, keep_versions=1)
        got = DLT.read_delta(spark, root)
        df = (
            got.groupBy(F.col("part").cast("int").alias("part"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("val"), 4).alias("sum_val"),
                F.min("doc_id").alias("lo"),
                F.max("doc_id").alias("hi"),
            )
            .orderBy("part")
        )
        df.schema  # fold metadata while the scheme is registered
        return df
    finally:
        FIO.unregister_fileio(scheme)


@_declare(
    "q238_fileio_pyarrow",
    """
    SELECT doc_id, CAST(doc_id % 4 AS INT) part,
           ROUND(CASE WHEN doc_id < 200 AND doc_id % 4 = 0
                      THEN doc_id * 0.5 + 1000
                      ELSE doc_id * 0.5 END, 4) val
    FROM documents WHERE doc_id < 300 ORDER BY doc_id
    """,
)
def q238(spark, sf_dir):
    """PyArrowFileIO under the driver contract (round 11): the q207
    Delta fixture served through the PICKLABLE pyarrow.fs adapter
    behind a registered scheme (LocalFileSystem stands in for
    S3/GCS/HDFS — same API, same pickle path into executor tasks).
    Hash-exact vs q235's closed form proves the adapter serves the
    same bytes the fake object store and POSIX reads do. (Builder
    writes the fixture tree; by-name exemption, q235 family.)"""
    import hashlib as _hl
    import os as _os

    from ..sources import delta as DLT
    from ..sources import fileio as FIO

    root = _delta_fixture(spark, sf_dir, "q238")
    scheme = "pafsq238" + _hl.md5(sf_dir.encode()).hexdigest()[:6]
    io = FIO.PyArrowFileIO(scheme=scheme, base=_os.path.dirname(root))
    FIO.register_fileio(scheme, io)
    try:
        df = (
            DLT.read_delta(spark, f"{scheme}://table")
            .select("doc_id", "part", F.round("val", 4).alias("val"))
            .orderBy("doc_id")
        )
        df.schema  # fold metadata while the scheme is registered
        return df
    finally:
        FIO.unregister_fileio(scheme)


@_declare(
    "q239_txn_object_store_publish",
    """
    SELECT CAST(doc_id % 3 AS INT) part, CAST(COUNT(*) AS BIGINT) n,
           ROUND(SUM(doc_id * 0.5), 4) sum_val,
           CAST(MIN(doc_id) AS BIGINT) lo, CAST(MAX(doc_id) AS BIGINT) hi
    FROM documents WHERE doc_id < 300 AND doc_id % 5 <> 0
    GROUP BY doc_id % 3 ORDER BY part
    """,
)
def q239(spark, sf_dir):
    """The ENGINE'S OWN txn tier on an object store (round 11 — the
    r10 verdict's produce→publish leg): a txn table is CREATED on a
    registered FakeObjectStore root (txn_append staging via
    spark_path + server-side promotion, commit via the store's
    conditional PUT), rows are deleted via DELETION VECTORS
    (executor-written sidecars behind object verbs), the table is
    PUBLISHED as a valid _delta_log over the same objects (protocol
    3/7, spec-framed DV sidecar), and the Delta READER serves the
    aggregate hash-exact vs the closed form. No byte of the chain has
    a POSIX path. (Builder writes + publishes the table; by-name
    exemption, q237 family.)"""
    import hashlib as _hl
    import os as _os
    import shutil as _sh
    import tempfile as _tmp

    from .. import txnlog as TL
    from ..sources import delta as DLT
    from ..sources import fileio as FIO

    tag = _hl.md5(sf_dir.encode()).hexdigest()[:10]
    backing = _os.path.join(_tmp.gettempdir(), f"q239_{tag}")
    _sh.rmtree(backing, ignore_errors=True)
    _os.makedirs(backing)
    scheme = f"fakeq239{tag[:6]}"
    store = FIO.FakeObjectStore(scheme, backing)
    FIO.register_fileio(scheme, store)
    try:
        root = f"{scheme}://table"
        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id")
            .filter(F.col("doc_id") < 300)
            .select(
                "doc_id",
                (F.col("doc_id") * 0.5).alias("val"),
                (F.col("doc_id") % 3).cast("int").alias("part"),
            )
        )
        TL.txn_append(spark, docs, root, ["part"])
        TL.txn_delete(spark, root, F.col("doc_id") % 5 == 0)
        DLT.publish_delta(spark, root, checkpoint=True)
        got = DLT.read_delta(spark, root)
        df = (
            got.groupBy(F.col("part").cast("int").alias("part"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("val"), 4).alias("sum_val"),
                F.min("doc_id").alias("lo"),
                F.max("doc_id").alias("hi"),
            )
            .orderBy("part")
        )
        df.schema  # fold metadata while the scheme is registered
        return df
    finally:
        FIO.unregister_fileio(scheme)


@_declare(
    "q240_convert_delta_to_iceberg",
    """
    WITH deleted AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS pos
        FROM documents WHERE doc_id < 150
      ) WHERE pos IN (0, 2)
    ),
    era1 AS (
      SELECT doc_id FROM documents
      WHERE doc_id < 300
        AND doc_id NOT IN (SELECT doc_id FROM deleted)
    ),
    cur AS (
      SELECT doc_id FROM era1
      UNION ALL
      SELECT CAST(range AS BIGINT) AS doc_id FROM range(1000, 1010)
    )
    SELECT CAST((SELECT COUNT(*) FROM cur) AS BIGINT) n,
           ROUND((SELECT SUM(doc_id * 0.5) FROM cur), 4) sum_val,
           CAST((SELECT MIN(doc_id) FROM cur) AS BIGINT) lo,
           CAST((SELECT MAX(doc_id) FROM cur) AS BIGINT) hi,
           CAST((SELECT COUNT(*) FROM era1) AS BIGINT) n_first
    """,
)
def q240(spark, sf_dir):
    """ZERO-COPY FORMAT CONVERSION, Delta -> Iceberg (round 11,
    sources/convert.py — the UniForm-shaped migration verb): a real
    _delta_log tree (spec writer) whose v1 carries a DELETION VECTOR
    (roaring sidecar over positions {0,2} of the first file) converts
    in place — adopt into a txn mirror + publish — and read_iceberg
    serves it with the vector applied as v2 position deletes; a later
    Delta commit (new file) re-converts INCREMENTALLY (one refresh
    commit -> one new snapshot), and the FIRST conversion's snapshot
    still time-travels to the pre-refresh live set (n_first). A
    conversion that resurrected DV'd rows, double-counted the
    refreshed file, or broke snapshot lineage breaks the hash.
    (Builder writes + converts the tree; by-name exemption, q211
    family.)"""
    import hashlib as _hl
    import os as _os
    import shutil as _sh
    import tempfile as _tmp
    import uuid as _uuid

    import pyarrow as _pa
    import pyarrow.parquet as _pq
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    from ..sources import convert as CVT
    from ..sources import delta as DLT
    from ..sources import iceberg as IB
    from ..sources import roaring as RB

    base = _os.path.join(
        _tmp.gettempdir(),
        "q240_" + _hl.md5(sf_dir.encode()).hexdigest()[:10],
    )
    _sh.rmtree(base, ignore_errors=True)
    root = _os.path.join(base, "table")
    ids = sorted(
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 300)
        .collect()
    )

    def _write(rel, rows):
        full = _os.path.join(root, rel)
        _os.makedirs(_os.path.dirname(full), exist_ok=True)
        _pq.write_table(
            _pa.table(
                {
                    "doc_id": _pa.array(rows, _pa.int64()),
                    "val": _pa.array(
                        [i * 0.5 for i in rows], _pa.float64()
                    ),
                }
            ),
            full,
        )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("val", DoubleType()),
        ]
    )
    lo_ids = [i for i in ids if i < 150]
    hi_ids = [i for i in ids if i >= 150]
    _write("a.parquet", lo_ids)
    _write("b.parquet", hi_ids)

    def _add(rel, dv=None):
        a = {
            "path": rel,
            "partitionValues": {},
            "size": 1,
            "modificationTime": 0,
            "dataChange": True,
        }
        if dv:
            a["deletionVector"] = dv
        return {"add": a}

    DLT.write_delta_commit(
        root, 0,
        [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["deletionVectors"],
                          "writerFeatures": ["deletionVectors"]}},
            {"metaData": {
                "id": "q240", "format": {"provider": "parquet",
                                         "options": {}},
                "schemaString": schema.json(),
                "partitionColumns": [], "configuration": {},
            }},
            _add("a.parquet"), _add("b.parquet"),
        ],
    )
    # v1: deletion vector over positions {0,2} of a.parquet
    u = _uuid.UUID(int=int(_hl.md5(root.encode()).hexdigest(), 16))
    off, size, card = RB.write_dv_file(
        _os.path.join(root, f"deletion_vector_{u}.bin"), [0, 2]
    )
    DLT.write_delta_commit(
        root, 1,
        [
            {"remove": {"path": "a.parquet", "dataChange": True}},
            _add("a.parquet", dv={
                "storageType": "u",
                "pathOrInlineDv": RB.make_uuid_descriptor_path(u),
                "offset": off, "sizeInBytes": size,
                "cardinality": card,
            }),
        ],
    )
    r1 = CVT.convert_delta_to_iceberg(spark, root)
    # a later Delta commit: new file -> INCREMENTAL re-conversion
    _write("c.parquet", list(range(1000, 1010)))
    DLT.write_delta_commit(root, 2, [_add("c.parquet")])
    r2 = CVT.convert_delta_to_iceberg(spark, root)
    first = (
        IB.read_iceberg(
            spark, root, snapshot_id=r1["snapshots"][1]
        )
        .agg(F.count(F.lit(1)).alias("n_first"))
    )
    df = (
        IB.read_iceberg(spark, root)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum((F.col("doc_id") * 0.5)), 4).alias(
                "sum_val"
            ),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
        )
        .crossJoin(first)
        .select("n", "sum_val", "lo", "hi", "n_first")
    )
    assert r2["txn_version"] >= r1["txn_version"]
    return df


@_declare(
    "q241_convert_iceberg_to_delta",
    """
    WITH era1 AS (
      SELECT doc_id,
             CASE WHEN doc_id < 200 AND doc_id % 4 = 0
                  THEN doc_id * 0.5 + 1000
                  ELSE doc_id * 0.5 END AS val
      FROM documents WHERE doc_id < 300
    ),
    deleted AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS pos
        FROM documents
        WHERE doc_id >= 200 AND doc_id < 300 AND doc_id % 4 = 0
      ) WHERE pos IN (0, 1)
    ),
    cur AS (
      SELECT * FROM era1
      WHERE doc_id NOT IN (SELECT doc_id FROM deleted)
    )
    SELECT CAST((SELECT COUNT(*) FROM cur) AS BIGINT) n,
           ROUND((SELECT SUM(val) FROM cur), 4) sum_val,
           CAST((SELECT MIN(doc_id) FROM cur) AS BIGINT) lo,
           CAST((SELECT MAX(doc_id) FROM cur) AS BIGINT) hi,
           CAST((SELECT COUNT(*) FROM era1) AS BIGINT) n_first
    """,
)
def q241(spark, sf_dir):
    """ZERO-COPY FORMAT CONVERSION, Iceberg -> Delta (round 11): the
    q211 Iceberg fixture (rewrite history, EXISTING/DELETED manifest
    entries) converts in place — adopt into a txn mirror +
    publish_delta — and read_delta serves it; a later Iceberg
    snapshot adds POSITION DELETES (positions {0,1} of one s2 file
    under the spec's sequence rule), and the INCREMENTAL
    re-conversion crosses them as real Delta DELETION VECTORS
    (protocol 3/7, roaring sidecar). Delta time travel to the first
    converted commit still serves the pre-delete rows (n_first). A
    conversion that resurrected deleted rows, lost the rewrite
    bump, or mis-sequenced the delete application breaks the hash.
    (Builder writes + converts the tree; by-name exemption, q211
    family.)"""
    import os as _os

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from ..sources import convert as CVT
    from ..sources import delta as DLT
    from ..sources import iceberg as IB

    root = _iceberg_fixture(spark, sf_dir, "q241")
    r1 = CVT.convert_iceberg_to_delta(spark, root)
    # s3: position deletes {0,1} on data/b0.parquet (rows sorted by
    # doc_id at write time -> the two smallest qualifying ids)
    _pq.write_table(
        _pa.table(
            {
                "file_path": _pa.array(
                    ["data/b0.parquet", "data/b0.parquet"],
                    _pa.string(),
                ),
                "pos": _pa.array([0, 1], _pa.int64()),
            }
        ),
        _os.path.join(root, "data", "del3.parquet"),
    )
    IB.write_manifest(
        root, "m5.avro", [(1, "data/del3.parquet")], 3,
        entry_content=1,
    )
    IB.write_manifest_list(
        root, "snap-3.avro",
        [("m2.avro", 2, 0, 2), ("m3.avro", 2, 0, 2),
         ("m5.avro", 3, 1, 3)],
        3,
    )
    IB.write_metadata(
        root, 3,
        [
            {"id": 1, "name": "doc_id", "required": True,
             "type": "long"},
            {"id": 2, "name": "val", "required": False,
             "type": "double"},
        ],
        [
            {"snapshot-id": 1,
             "manifest-list": "metadata/snap-1.avro"},
            {"snapshot-id": 2,
             "manifest-list": "metadata/snap-2.avro"},
            {"snapshot-id": 3,
             "manifest-list": "metadata/snap-3.avro"},
        ],
        current_snapshot_id=3,
    )
    r2 = CVT.convert_iceberg_to_delta(spark, root)
    first_v = r1["published"][-1]
    first = (
        DLT.read_delta(spark, root, version=first_v)
        .agg(F.count(F.lit(1)).alias("n_first"))
    )
    df = (
        DLT.read_delta(spark, root)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("val"), 4).alias("sum_val"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
        )
        .crossJoin(first)
        .select("n", "sum_val", "lo", "hi", "n_first")
    )
    assert r2["txn_version"] >= r1["txn_version"]
    return df
