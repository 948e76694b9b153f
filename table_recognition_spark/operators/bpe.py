"""Byte-pair-encoding merge learning over the documents corpus.

No reference counterpart (lpiwowar/table-recognition ships no
tokenizer); this extends the LLM-data-pipeline surface next to the
token-counting and fingerprinting operators in ``textstats.py``: the
classic BPE procedure (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units") learns the top-N symbol
merges from corpus word frequencies.

Scale design (the part that must survive 100 TB):

- The corpus collapses to the distinct-word vocabulary ONCE — a single
  tokenize + explode + groupBy shuffle over the raw text, the same
  heavy pass every counting query pays.  Every merge round after that
  runs on |V| rows (distinct words with counts), never on corpus
  tokens: at web scale |V| ~ 1e8 while the corpus is ~1e12 tokens.
- Pair counts are maintained INCREMENTALLY (the delta scheme every
  single-node BPE trainer uses, distributed): the full
  explode-all-pairs aggregation runs once up front; each round then
  folds only the affected words' before/after pair multisets into the
  standing pair table — one union + groupBy-sum shuffle over
  |pairs| + O(affected) rows, never a re-explode of all |V| words.
  (Merging e.g. ('t','h') late in training touches the words
  containing "th", not the entire vocabulary.)
- Per round, three bounded steps:
  1. a driver fetch of exactly ONE row — the argmax pair from the
     standing pair table, tie-broken (count desc, pair lexicographic)
     for determinism.  Bounded the same way dedup's
     connected-components convergence scalar is: n_merges rows total
     cross the driver, regardless of corpus size.
  2. an Arrow-batched greedy left-to-right merge applied ONLY to the
     words that actually contain the winning adjacent pair — a
     JVM-side ``exists(zip_with(...))`` prefilter routes untouched
     words around the pandas UDF entirely.
  3. the delta fold: pair table (+c) ∪ hit-word pairs before (−cnt)
     ∪ hit-word pairs after (+cnt) → one groupBy sum, rows with
     count 0 dropped.  Exact integer arithmetic — bit-identical to
     recounting from scratch.
- ``localCheckpoint`` truncates the union + UDF lineage each round
  (reliable ``checkpoint()`` to cluster storage at real scale), the
  same iterative-algorithm pattern as ``dedup.py``'s pointer jumping.

Non-SQL-expressible (data-dependent argmax drives the next round's
input), so the driver oracle is the committed-expected-parquet pattern
(``scripts/gen_expected.py``); the independent correctness guard is a
pure-Python BPE mirror in ``tests/test_bpe.py``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .common import load, tokens

N_MERGES = 12
EOW = "</w>"  # end-of-word marker: lets merges form full-word tokens

MERGE_SCHEMA = (
    "rank int, left string, right string, merged string, pair_count bigint"
)


def _adj_pairs(syms):
    """Adjacent (a, b) symbol pairs of one word, JVM-side."""
    n = F.size(syms)
    return F.zip_with(
        F.slice(syms, 1, n - 1),
        F.slice(syms, 2, n - 1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )


# symbol-sequence signature delimiter: symbols are tokenizer output
# ([a-z0-9]+ substrings) plus the EOW marker, so NUL can never occur
# inside one — substring match on the signature is EXACTLY the
# adjacent-pair test, at a fraction of the expression-tree (and
# per-round driver re-planning) cost of an exists(zip_with(...)) probe
_SEP = "\x00"


def _sig(syms):
    return F.concat(F.lit(_SEP), F.array_join(syms, _SEP), F.lit(_SEP))


def _merge_delta_udf(a: str, b: str):
    """Greedy left-to-right merge of adjacent (a, b) -> a+b, plus the
    word's pair-count delta (after-minus-before multiset) in the same
    pass — one Arrow batch per round feeds BOTH the next vocab and the
    standing pair table's incremental update.

    Sequential within one word (overlaps: 'aaa' under (a,a) -> 'aa','a')
    so it cannot be a Catalyst array expression; Arrow-batched, never
    per-row Python."""

    @F.pandas_udf(
        "syms array<string>, deltas array<struct<a string, b string, d int>>"
    )
    def merge(col: pd.Series) -> pd.DataFrame:
        import collections

        ab = a + b
        syms_out, deltas_out = [], []
        for s in col:
            s = list(s)
            out = []
            i, n = 0, len(s)
            while i < n:
                if i + 1 < n and s[i] == a and s[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            d = collections.Counter(zip(out, out[1:]))
            d.subtract(collections.Counter(zip(s, s[1:])))
            syms_out.append(out)
            deltas_out.append(
                [{"a": x, "b": y, "d": v} for (x, y), v in d.items() if v]
            )
        return pd.DataFrame({"syms": syms_out, "deltas": deltas_out})

    return merge


def word_vocab(docs: DataFrame) -> DataFrame:
    """(w, cnt, syms, sig): the distinct-word frequency table, each word
    as its initial symbol sequence (chars + end-of-word marker) plus the
    NUL-joined signature the per-round hit filter probes."""
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "syms", F.concat(F.split("w", ""), F.array(F.lit(EOW)))
        )
        .withColumn("sig", _sig(F.col("syms")))
    )


# per-task row target for the merge loop's vocab/pair relations: the
# loop's rows are ~200 B (word + symbol array + signature), so 50k rows
# ≈ 10 MB per task — small enough that the per-round UDF pass stays
# parallel once the vocab is big, large enough that a fixture-sized
# vocab (31 distinct words at sf0.1) runs every round single-task
# instead of paying 32 near-empty tasks per stage per round (measured
# r7: the 12-round loop dropped 7.4 s → ~2 s at sf0.1; at |V| ~ 1e8
# this yields ~2000 tasks)
LOOP_ROWS_PER_TASK = 50_000

# Driver-local learning threshold: below this many DISTINCT WORDS the
# merge loop runs on the driver over the collected (word, count) table
# instead of as n_merges sequential Spark jobs. Bound: 100k words ×
# ~30 B ≈ 3 MB across the driver — the same capped-materialization
# pattern as similarity.py's IVF quantizer sample and dedup.py's
# RECALL_SAMPLE_CAP, with the bound pinned by tests/test_bpe.py
# (local ≡ distributed on the same corpus). The corpus-sized work
# (tokenize → explode → groupBy) is distributed EITHER way; only the
# post-aggregation learning — O(|V|) rows, every round a 1-row argmax —
# moves, trading n_merges driver-round-trip jobs (~0.45 s each at
# sf0.1, all scheduling/planning overhead on a 31-word vocab) for a
# single bounded collect. Above the cap the incremental-delta
# distributed loop runs unchanged.
BPE_LOCAL_VOCAB_CAP = 100_000


def _learn_merges_local(word_counts, n_merges: int):
    """Driver-side BPE learner over a bounded (word, count) table —
    result-identical to the distributed loop (argmax by count desc then
    pair lexicographic; greedy left-to-right merge), with the same
    incremental pair-delta maintenance. Pinned against the distributed
    path and the from-scratch mirror by tests/test_bpe.py."""
    import collections

    syms = []
    cnts = []
    pairs: collections.Counter = collections.Counter()
    where: dict = {}  # pair -> set of word indexes (may hold stale entries)
    for w, c in word_counts:
        s = list(w) + [EOW]
        i = len(syms)
        syms.append(s)
        cnts.append(c)
        for p in zip(s, s[1:]):
            pairs[p] += c
            where.setdefault(p, set()).add(i)
    rows = []
    for rank in range(n_merges):
        live = [(p, c) for p, c in pairs.items() if c > 0]
        if not live:
            break
        (a, b), c = min(live, key=lambda kv: (-kv[1], kv[0]))
        rows.append((rank, a, b, a + b, int(c)))
        ab = a + b
        for wi in sorted(where.get((a, b), ())):
            s = syms[wi]
            out = []
            i, n = 0, len(s)
            while i < n:
                if i + 1 < n and s[i] == a and s[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            if len(out) == n:
                continue  # stale index entry: pair no longer occurs
            d = collections.Counter(zip(out, out[1:]))
            d.subtract(collections.Counter(zip(s, s[1:])))
            wc = cnts[wi]
            for p, dv in d.items():
                if dv:
                    pairs[p] += dv * wc
                    if dv > 0:
                        where.setdefault(p, set()).add(wi)
            syms[wi] = out
    return rows


def learn_merges(
    docs: DataFrame,
    n_merges: int = N_MERGES,
    local_vocab_cap: int = BPE_LOCAL_VOCAB_CAP,
) -> DataFrame:
    """The learned merge table: (rank, left, right, merged, pair_count),
    rank order — deterministic given the corpus and tokenizer."""
    spark = docs.sparkSession
    par = spark.sparkContext.defaultParallelism
    # the one corpus-sized pass runs under the session's AQE settings
    vocab = word_vocab(docs).localCheckpoint()
    # scale-adaptive loop parallelism: every round's relations are
    # bounded by |V| (vocab) and |distinct symbol pairs| (≤ vocab
    # pairs), both known to be tiny relative to the corpus — size the
    # loop's partitioning from the MEASURED vocab count (the checkpoint
    # is already materialized, so this count is a cached-RDD scan, not
    # a recompute), never from the cluster width alone
    n_vocab = vocab.count()
    if n_vocab <= local_vocab_cap:
        wc = [(r["w"], int(r["cnt"]))
              for r in vocab.select("w", "cnt").collect()]
        # iteration order does not affect the result (the argmax
        # tie-break is total), but sort for a stable index anyway
        wc.sort()
        return spark.createDataFrame(
            _learn_merges_local(wc, n_merges), MERGE_SCHEMA
        )
    loop_par = max(1, min((n_vocab + LOOP_ROWS_PER_TASK - 1)
                          // LOOP_ROWS_PER_TASK, par * 4))
    # AQE off for the merge loop: under AQE, a lazy localCheckpoint of
    # a plan containing an exchange is not lazy — AdaptiveSparkPlanExec
    # materializes its shuffle stages at toRdd time, so every round
    # would pay an extra eager job plus per-stage re-planning.  The
    # loop's shuffles are over the standing pair table (|distinct
    # symbol pairs|, orders of magnitude below the corpus), where fixed
    # hash partitioning is the right plan anyway — at loop_par
    # partitions, not the session's corpus-sized default.
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(loop_par))
    try:
        return _merge_loop(spark, vocab, n_merges, loop_par)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def _merge_loop(spark, vocab, n_merges: int, par: int) -> DataFrame:
    pair_counts = (
        vocab.select(
            F.col("cnt"), F.explode(_adj_pairs(F.col("syms"))).alias("p")
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("cnt").alias("c"))
        .localCheckpoint(eager=False)
    )
    cols = ["w", "cnt", "syms", "sig"]
    rows = []
    for rank in range(n_merges):
        best = (
            pair_counts.orderBy(F.desc("c"), "a", "b").limit(1).collect()
        )
        if not best:
            break  # vocab fully merged: every word is one symbol
        a, b, c = best[0]["a"], best[0]["b"], int(best[0]["c"])
        rows.append((rank, a, b, a + b, c))
        pat = F.lit(_SEP + a + _SEP + b + _SEP)
        hit = vocab.filter(F.col("sig").contains(pat))
        rest = vocab.filter(~F.col("sig").contains(pat))
        # checkpointed: one UDF pass feeds BOTH the delta fold and the
        # next vocab
        merged = hit.withColumn(
            "r", _merge_delta_udf(a, b)(F.col("syms"))
        ).localCheckpoint(eager=False)
        # ONE shuffle per round: standing table (+c) ∪ affected words'
        # pair deltas (±d × word count) → groupBy sum; only
        # |pairs| + O(affected) rows move, never the full vocab
        pair_counts = (
            pair_counts.select("a", "b", "c")
            .unionByName(
                merged.select(
                    "cnt", F.explode("r.deltas").alias("p")
                ).select(
                    F.col("p.a").alias("a"),
                    F.col("p.b").alias("b"),
                    (F.col("p.d").cast("long") * F.col("cnt")).alias("c"),
                )
            )
            .groupBy("a", "b")
            .agg(F.sum("c").alias("c"))
            .filter(F.col("c") > 0)
            .coalesce(par)
            # lazy: materializes inside the NEXT round's argmax job
            # (one job per round instead of two); lineage still truncates
            .localCheckpoint(eager=False)
        )
        vocab = (
            merged.select(
                "w", "cnt", F.col("r.syms").alias("syms"),
                _sig(F.col("r.syms")).alias("sig"),
            )
            .unionByName(rest.select(*cols))
            # the union concatenates both branches' partitions; without
            # this shuffle-free merge the partition count doubles every
            # round (P * 2^n_merges tasks by the last round)
            .coalesce(par)
            .localCheckpoint(eager=False)
        )
    return spark.createDataFrame(rows, MERGE_SCHEMA)


def bpe_merges(spark, sf_dir, n_merges: int = N_MERGES) -> DataFrame:
    return learn_merges(load(spark, sf_dir, "documents"), n_merges)


def apply_merges(docs: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """(doc_id, n_tokens, n_bpe_tokens): per-document token counts under
    the learned vocabulary — the corpus-wide encode pass.  One Arrow
    batch pass over the documents; the merge table (n_merges rows)
    rides inside the UDF closure, the distributed analogue of a
    broadcast tokenizer."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    @F.pandas_udf("int")
    def n_bpe(col: pd.Series) -> pd.Series:
        def enc(toks):
            total = 0
            for w in toks:
                s = list(w) + [EOW]
                # canonical BPE encode: repeatedly apply the
                # lowest-rank applicable merge
                while len(s) > 1:
                    cand = [
                        (ranks[(s[i], s[i + 1])], i)
                        for i in range(len(s) - 1)
                        if (s[i], s[i + 1]) in ranks
                    ]
                    if not cand:
                        break
                    _, i = min(cand)
                    s[i : i + 2] = [s[i] + s[i + 1]]
                total += len(s)
            return total

        return col.map(enc).astype("int32")

    toks = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        n_bpe(toks).alias("n_bpe_tokens"),
    ).orderBy("doc_id")


def bpe_token_counts(spark, sf_dir, n_merges: int = N_MERGES) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    merges = [
        (r["left"], r["right"])
        for r in learn_merges(docs, n_merges).collect()
    ]
    return apply_merges(docs, merges)


QUERIES = {
    "text_bpe_merges": bpe_merges,
    "text_bpe_token_counts": bpe_token_counts,
}
