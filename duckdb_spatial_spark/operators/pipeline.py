"""Training-data pipeline operators beyond the reference's surface.

These are the operations a 100 TB pretraining-data pipeline runs between
raw crawl and tokenized shards: repetition-based quality filtering
(Gopher rules), deterministic train/val/test
splitting and stratified sampling, greedy sequence packing, PII
scrubbing, corpus-wide line dedup, and per-label embedding centroids.

Every operator here has an exact, engine-neutral definition so a DuckDB
oracle can verify it value-for-value (the driver's correctness gate):
no engine-specific hash appears in any output column.

Scale notes (100 TB):
  * gopher_repetition  - one mapInPandas projection, zero shuffles.
  * hash_split         - pure Column arithmetic (MINSTD LCG), zero
                         shuffles, no UDF.
  * sample_stratified  - one windowed shuffle on the stratum key.
  * pack_sequences     - one hash shuffle on the pack group; packing is
                         sequential *within* a group by definition, so
                         parallelism = num_groups (pick >= cluster cores).
  * pii_scrub          - pure Column regexp chain, zero shuffles.
  * dedup_lines        - map-side-combined min per line + skew-splittable
                         join, then one reassembly shuffle on the id.
  * embedding_centroids - posexplode + map-side-combined avg; shuffle
                         volume is O(labels x dim), independent of rows.
"""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._ascii import ws_split as _ws_split, ws_strip as _ws_strip

__all__ = [
    "gopher_repetition",
    "hash_split",
    "pack_sequences",
    "embedding_centroids",
    "pii_scrub",
    "dedup_lines",
    "sample_stratified",
]


# ---------------------------------------------------------------------------
# Gopher repetition filters (Rae et al. 2021, appendix A1.1)
# ---------------------------------------------------------------------------

#: Gopher paper thresholds (doc is kept when every signal is at or below).
GOPHER_THRESHOLDS = {
    "dup_line_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "dup_5gram_char_frac": 0.15,
}


def _repetition_metrics(text: str) -> tuple:
    """Exact shared definition (mirrored by the DuckDB oracle SQL in
    __spark_entry__):

    lines      = non-empty stripped '\\n'-split lines of the raw text
    words      = non-empty whitespace-split tokens (original case)
    total      = len(" ".join(words))  (whitespace-normalized char count)
    k-gram     = k consecutive words joined by one space
    dup_line_frac       = 1 - distinct_lines / lines
    dup_line_char_frac  = 1 - sum(len(distinct lines)) / sum(len(lines))
    top_kgram_char_frac = min(1, max over k-grams occurring >= 2 times
                          of count*len(gram) / total) (the maximum
                          character mass any single REPEATED k-gram
                          covers - tie-free variant of Gopher's "most
                          frequent n-gram" rule; grams seen once are not
                          repetition, so short clean docs score 0; the
                          clamp matters because overlapping occurrences
                          double-count characters, e.g. ". . ." whose
                          ". ." bigram has mass 2*3 > 5 chars)
    dup_5gram_char_frac = min(1, sum over 5-grams with count>=2 of
                          count*len(gram) / total)

    NULL text behaves exactly like the empty string (all zeros, pass) -
    the oracle coalesces to '' for the same reason.
    """
    if text is None:
        text = ""
    raw_lines = [_ws_strip(ln) for ln in text.split("\n")]
    lines = [ln for ln in raw_lines if ln]
    n_lines = len(lines)
    if n_lines:
        distinct = set(lines)
        dup_line_frac = 1.0 - len(distinct) / n_lines
        tot_lc = sum(len(ln) for ln in lines)
        dup_line_char_frac = 1.0 - (sum(len(ln) for ln in distinct) / tot_lc) if tot_lc else 0.0
    else:
        dup_line_frac = dup_line_char_frac = 0.0

    words = _ws_split(text)
    total = len(" ".join(words))
    tops = {}
    dup5 = 0.0
    for k in (2, 3, 5):
        if len(words) < k or total == 0:
            tops[k] = 0.0
            continue
        cnt = Counter(" ".join(words[i : i + k]) for i in range(len(words) - k + 1))
        if k in (2, 3):
            rep = [c * len(g) for g, c in cnt.items() if c >= 2]
            tops[k] = min(1.0, max(rep) / total) if rep else 0.0
        else:
            dup5 = min(1.0, sum(c * len(g) for g, c in cnt.items() if c >= 2) / total)
    vals = tuple(
        _round6(v)
        for v in (
            dup_line_frac,
            dup_line_char_frac,
            tops.get(2, 0.0),
            tops.get(3, 0.0),
            dup5,
        )
    )
    # pass is decided on the ROUNDED values (the oracle does the same), so
    # summation-order float noise can never flip it at a threshold
    ok = all(
        v <= t
        for v, t in zip(
            vals,
            (
                GOPHER_THRESHOLDS["dup_line_frac"],
                GOPHER_THRESHOLDS["dup_line_char_frac"],
                GOPHER_THRESHOLDS["top_2gram_char_frac"],
                GOPHER_THRESHOLDS["top_3gram_char_frac"],
                GOPHER_THRESHOLDS["dup_5gram_char_frac"],
            ),
        )
    )
    return (n_lines,) + vals + (ok,)


def _round6(v: float) -> float:
    """Round half AWAY from zero (SQL round semantics — DuckDB/Spark both
    do this); python's built-in round() is half-to-even and disagrees at
    exact halves like 10/256."""
    return math.floor(v * 1e6 + 0.5) / 1e6


def gopher_repetition(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Gopher repetition-quality signals per document.

    Returns (id, n_lines, dup_line_frac, dup_line_char_frac,
    top_2gram_char_frac, top_3gram_char_frac, dup_5gram_char_frac,
    gopher_pass). One Arrow-batched mapInPandas projection - zero
    shuffles; at 100 TB this runs at scan bandwidth with per-doc Counter
    work (C-level dict ops) as the only CPU cost.
    """
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("n_lines", T.IntegerType()),
            T.StructField("dup_line_frac", T.DoubleType()),
            T.StructField("dup_line_char_frac", T.DoubleType()),
            T.StructField("top_2gram_char_frac", T.DoubleType()),
            T.StructField("top_3gram_char_frac", T.DoubleType()),
            T.StructField("dup_5gram_char_frac", T.DoubleType()),
            T.StructField("gopher_pass", T.BooleanType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            rows = [_repetition_metrics(t) for t in pdf["_t"]]
            out = pd.DataFrame(
                rows,
                columns=[
                    "n_lines",
                    "dup_line_frac",
                    "dup_line_char_frac",
                    "top_2gram_char_frac",
                    "top_3gram_char_frac",
                    "dup_5gram_char_frac",
                    "gopher_pass",
                ],
            )
            out.insert(0, id_col, pdf["_id"].values)
            yield out

    from ._util import widen_narrow_input

    return widen_narrow_input(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    ).mapInPandas(run, out_schema)


# ---------------------------------------------------------------------------
# Deterministic split
# ---------------------------------------------------------------------------

_MINSTD_A = 48271
_MINSTD_M = 2147483647  # 2^31 - 1 (prime)


def _minstd_u(id_col, salt: int = 0):
    """Uniform-ish [0,1) from an integer id: two MINSTD LCG rounds in
    plain 64-bit arithmetic — bit-reproducible in any SQL engine."""
    c = (F.col(id_col) if isinstance(id_col, str) else id_col).cast("long")
    x = F.pmod(c + F.lit(int(salt)), F.lit(_MINSTD_M))
    h = F.pmod(x * _MINSTD_A, F.lit(_MINSTD_M))
    h = F.pmod(h * _MINSTD_A, F.lit(_MINSTD_M))
    return h / float(_MINSTD_M)


def hash_split(
    df: DataFrame,
    id_col: str,
    weights=(0.9, 0.05, 0.05),
    labels=("train", "val", "test"),
    salt: int = 0,
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment from an integer id.

    Uses two rounds of the MINSTD LCG (x -> 48271*x mod 2^31-1) - plain
    64-bit integer arithmetic, so ANY engine reproduces the exact same
    assignment (the DuckDB oracle runs the identical formula). Pure
    Column projection: zero shuffles, no UDF, stable under repartition.
    """
    if len(weights) != len(labels):
        raise ValueError("weights and labels must have the same length")
    tot = float(sum(weights))
    # keep bounds bit-exact replicable in plain SQL: when the weights
    # already sum to ~1, skip normalization so the k-th bound is the plain
    # IEEE sum w1 + ... + wk of the user's literals
    if abs(tot - 1.0) < 1e-9:
        tot = 1.0
    u = _minstd_u(id_col, salt)
    expr = F.lit(labels[-1])
    acc = 0.0
    bounds = []
    for w in weights[:-1]:
        acc += w / tot
        bounds.append(acc)
    for lbl, b in zip(reversed(labels[:-1]), reversed(bounds)):
        expr = F.when(u < b, F.lit(lbl)).otherwise(expr)
    return df.withColumn(out_col, expr)


def mix_sample(
    df: DataFrame,
    rates: dict,
    label_col: str,
    id_col: str,
    salt: int = 0,
    default_rate: float = 0.0,
    keep_col: str | None = None,
) -> DataFrame:
    """Training-data mixing: per-domain deterministic sampling rates.

    ``rates`` maps a label (domain / source / language) to its keep
    probability — the standard way a pretraining mix up- or down-weights
    sources (e.g. ``{"web": 0.3, "code": 1.0, "books": 0.8}``). A row is
    kept iff its MINSTD uniform (the same bit-reproducible hash as
    hash_split, so samples NEST: lowering a rate yields a subset) falls
    below its label's rate; unknown labels use ``default_rate``. Rates
    above 1.0 raise — up-sampling needs row replication, a different
    operator, not a silent cap.

    Pure Column projection: zero shuffles, no UDF, stable under
    repartition; with ``keep_col`` set the decision is appended instead
    of filtering (audit passes)."""
    for lbl, r in rates.items():
        if not (0.0 <= float(r) <= 1.0):
            raise ValueError(
                f"mix_sample: rate for {lbl!r} must be in [0, 1], got {r}"
            )
    if not (0.0 <= float(default_rate) <= 1.0):
        raise ValueError("mix_sample: default_rate must be in [0, 1]")
    u = _minstd_u(id_col, salt)
    rate = F.lit(float(default_rate))
    for lbl, r in rates.items():
        rate = F.when(F.col(label_col) == F.lit(lbl), F.lit(float(r))).otherwise(rate)
    keep = u < rate
    if keep_col is not None:
        return df.withColumn(keep_col, keep)
    return df.filter(keep)


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------


def pack_sequences(
    df: DataFrame,
    id_col: str,
    size_col: str,
    budget: int,
    num_groups: int = 64,
) -> DataFrame:
    """Greedy sequential packing of documents into fixed-budget bins.

    Docs are assigned to ``num_groups`` deterministic groups
    (``id % num_groups``); within each group, docs are taken in id order
    and appended to the current bin until adding one would exceed
    ``budget``, which starts a new bin (a doc larger than the budget
    gets a bin of its own). Returns (id, pack_group, pack_bin).

    The within-group scan is sequential *by definition* (each bin
    boundary depends on every prior size), so the parallelism knob is
    ``num_groups`` - set it to at least the cluster's core count; each
    task is a single O(rows/num_groups) pass.
    """
    gid = F.pmod(F.col(id_col).cast("long"), F.lit(int(num_groups)))
    src = df.select(
        F.col(id_col).alias("_id"), F.col(size_col).cast("long").alias("_sz"), gid.alias("pack_group")
    )
    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("pack_group", T.LongType()),
            T.StructField("pack_bin", T.LongType()),
        ]
    )
    b = int(budget)

    def pack(key, pdf):
        pdf = pdf.sort_values("_id")
        bins = []
        cur_bin, acc = 0, 0
        first = True
        for sz in pdf["_sz"]:
            # nullable long arrives as float NaN in pandas; treat null as 0
            sz = 0 if pd.isna(sz) else int(sz)
            if first:
                cur_bin, acc, first = 0, sz, False
            elif acc + sz > b:
                cur_bin += 1
                acc = sz
            else:
                acc += sz
            bins.append(cur_bin)
        return pd.DataFrame(
            {id_col: pdf["_id"].values, "pack_group": key[0], "pack_bin": bins}
        )

    return src.groupBy("pack_group").applyInPandas(pack, out_schema)


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 128,
    stride: int = 96,
) -> DataFrame:
    """Split documents into overlapping token windows for training.

    The pre-tokenizer complement to ``pack_sequences``: chunk ``c`` covers
    tokens ``[c*stride, c*stride + max_tokens)`` (ASCII-whitespace tokens),
    for every start ``< n_tokens`` — so consecutive chunks overlap by
    ``max_tokens - stride`` tokens, and the final chunk may be short.
    Chunk text re-joins tokens with single spaces (whitespace-normalized
    by construction). Zero-token / NULL docs emit nothing.

    Returns ``(id, chunk_id, chunk_tokens, chunk_text)``.

    Scale shape: one Arrow-batched ``mapInPandas`` projection — zero
    shuffle, output rows ~ ``n_tokens/stride`` per doc; the downstream
    packer owns any re-partitioning.
    """
    if stride <= 0 or max_tokens <= 0:
        raise ValueError("chunk_documents: max_tokens and stride must be > 0")
    if stride > max_tokens:
        raise ValueError("chunk_documents: stride > max_tokens would skip tokens")
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("chunk_id", T.IntegerType()),
            T.StructField("chunk_tokens", T.IntegerType()),
            T.StructField("chunk_text", T.StringType()),
        ]
    )
    ii = df.columns.index(id_col)
    ti = df.columns.index(text_col)
    mt, st = int(max_tokens), int(stride)

    def gen(batches):
        for pdf in batches:
            ids, cids, cns, cts = [], [], [], []
            for did, text in zip(pdf.iloc[:, ii], pdf.iloc[:, ti]):
                if text is None:
                    continue
                toks = _ws_split(str(text))
                for c, start in enumerate(range(0, len(toks), st)):
                    piece = toks[start : start + mt]
                    ids.append(did)
                    cids.append(c)
                    cns.append(len(piece))
                    cts.append(" ".join(piece))
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids),
                    "chunk_id": pd.Series(cids, dtype="int32"),
                    "chunk_tokens": pd.Series(cns, dtype="int32"),
                    "chunk_text": cts,
                }
            )

    return df.mapInPandas(gen, out_schema)


# ---------------------------------------------------------------------------
# Embedding centroids
# ---------------------------------------------------------------------------


def embedding_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    ndigits: int = 6,
) -> DataFrame:
    """Per-label mean vector, as (label, pos, centroid, n) rows (pos is
    0-based). The long format keeps the output oracle-comparable and the
    shuffle tiny: posexplode is map-side, the avg is map-side combined,
    and the exchange carries O(labels x dim) partial sums regardless of
    row count. Collect back to arrays with collect_list over a
    pos-ordered window if an array form is needed downstream.
    """
    e = df.select(
        F.col(label_col).alias("label"), F.posexplode(F.col(vec_col)).alias("pos", "value")
    )
    return (
        e.groupBy("label", "pos")
        .agg(
            F.round(F.avg(F.col("value").cast("double")), ndigits).alias("centroid"),
            F.count("*").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# PII scrubbing (C4-style cleanup)
# ---------------------------------------------------------------------------

#: kind -> (pattern, replacement). Patterns are restricted to the regex
#: subset Java regex and RE2 interpret identically: no backrefs, no
#: lookaround, and NO \b — Java's \b is Unicode-word-aware while RE2's
#: is ASCII (an IP glued to an accented letter matches in one engine
#: only; found by tests/test_cross_engine_fuzz.py). Dropping \b makes
#: digit-glued candidates match too — over-redaction, the safe
#: direction for a scrubber — identically in both engines.
PII_PATTERNS = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
    "phone": (r"\+[0-9][0-9 ()-]{6,}[0-9]", "<PHONE>"),
    "ssn": (r"[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
}


def pii_scrub(
    df: DataFrame,
    text_col: str = "text",
    kinds=("email", "ipv4", "phone"),
    out_col: str = "clean_text",
) -> DataFrame:
    """Redact PII-shaped substrings (emails, IPv4 addresses, international
    phone numbers) with typed placeholder tokens. Pure Column
    regexp_replace chain - zero shuffles, whole-stage codegen, runs at
    scan bandwidth.

    ``n_redactions`` counts pattern MATCHES IN THE ORIGINAL text, summed
    per kind; when spans overlap across kinds (an IP-looking run inside
    an email, say) it can differ from the number of replacements the
    sequential replace chain performs. The count is defined this way so
    a plain-SQL oracle reproduces it exactly."""
    c = F.col(text_col)
    n = F.lit(0)
    for k in kinds:
        pat, _ = PII_PATTERNS[k]
        n = n + F.coalesce(F.regexp_count(c, F.lit(pat)), F.lit(0))
    out = c
    for k in kinds:
        pat, repl = PII_PATTERNS[k]
        out = F.regexp_replace(out, pat, repl)
    return df.withColumn(out_col, out).withColumn("n_redactions", n.cast("int"))


# ---------------------------------------------------------------------------
# Global line-level dedup (boilerplate removal)
# ---------------------------------------------------------------------------


def dedup_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove corpus-wide duplicate LINES, keeping each distinct
    (whitespace-trimmed) line's first occurrence in (id, line-position)
    order - the RefinedWeb/C4-style boilerplate strip (nav bars, cookie
    banners) done globally rather than per-document.

    Returns (id, clean_text, n_kept, n_removed). Blank lines are never
    deduplicated (they are structure, not content).

    Scale: posexplode is map-side. The global first occurrence per line
    is a min(struct(id, pos)) AGGREGATION (map-side combined - a
    boilerplate line occurring 10M times partial-aggregates to one row
    per map task) joined back on the line text; a windowed row_number
    would instead sort every occurrence of a hot line in one task, and
    AQE can split a skewed join but not a skewed window. Then one
    reassembly shuffle on id. Volume is O(total lines), never quadratic.
    """
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("norm", F.trim(F.col("line")))
    winners = (
        lines.filter(F.col("norm") != "")
        .groupBy("norm")
        .agg(F.min(F.struct("_id", "pos")).alias("_first"))
    )
    ranked = lines.join(winners, "norm", "left").withColumn(
        "keep",
        (F.col("norm") == "")
        | ((F.col("_first._id") == F.col("_id")) & (F.col("_first.pos") == F.col("pos"))),
    )
    return (
        ranked.groupBy("_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("pos", "line")).otherwise(None)
                        )
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("clean_text"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("int").alias("n_kept"),
            F.sum(F.when(~F.col("keep"), 1).otherwise(0)).cast("int").alias("n_removed"),
        )
        .withColumnRenamed("_id", id_col)
    )


def sample_stratified(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    k: int,
    salt: int = 0,
) -> DataFrame:
    """Deterministic per-stratum sample: keep the k rows of each stratum
    with the smallest MINSTD hash of their id (ties impossible for
    distinct ids below 2^31-1 gaps; broken by id). The data-mixing
    primitive: unlike ``df.sampleBy``, the selection is a pure function
    of (id, salt) - stable across runs, partitionings, and engines, and
    exactly replayable in SQL. Rows with a null id are excluded (no
    hash, no deterministic selection); a null STRATUM is a real group
    and samples like any other.

    Scale: a map-side LOCAL top-k prune runs first (each input partition
    keeps at most k rows per stratum it sees - the global winners are
    necessarily among them), so the stratum-keyed shuffle for the final
    window carries at most k x input_partitions rows per stratum, no
    matter how hot the stratum is.
    """
    kk = int(k)
    u = _minstd_u(id_col, salt).alias("_u")
    # rows with a null id have no hash -> excluded from the sample by
    # definition (they cannot be selected deterministically); null STRATA
    # are a real group and must survive the local prune (dropna=False)
    staged = df.withColumn("_u", u).filter(F.col("_u").isNotNull())
    cols = staged.columns

    def local_topk(batches):
        import pandas as _pd

        # incremental fold: memory stays O(strata x k) + one Arrow batch
        best = None
        for pdf in batches:
            cur = pdf if best is None else _pd.concat([best, pdf], ignore_index=True)
            best = (
                cur.sort_values(["_u", id_col], kind="mergesort")
                .groupby(strata_col, sort=False, dropna=False)
                .head(kk)
            )
        if best is not None and len(best):
            yield best

    pruned = staged.mapInPandas(local_topk, staged.schema)
    w = Window.partitionBy(strata_col).orderBy(F.col("_u").asc(), F.col(id_col).asc())
    return (
        pruned.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= kk)
        .drop("_u", "_rk")
        .select(*[c for c in cols if c != "_u"])
    )


_HTML_DROP = None  # compiled lazily (keeps import time flat)


def _html_patterns():
    global _HTML_DROP
    if _HTML_DROP is None:
        import re

        _HTML_DROP = (
            re.compile(
                r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>|<head\b[^>]*>.*?</head\s*>"
            ),
            re.compile(r"(?s)<!--.*?-->"),
            re.compile(r"(?is)<title[^>]*>(.*?)</title>"),
            re.compile(
                r"(?i)</?(?:p|div|br|h[1-6]|li|ul|ol|tr|table|section|article"
                r"|header|footer|blockquote)\b[^>]*/?>"
            ),
            re.compile(r"(?s)<[^>]*>"),
            re.compile(r"[ \t\r\f\v]+"),
            re.compile(r"\n[ \t]*(?:\n[ \t]*)+"),
        )
    return _HTML_DROP


def _html_to_text(raw: str) -> tuple:
    """(title, text) per the fixed rule chain documented in
    :func:`html_extract_text`."""
    import html as _h

    drop_se, drop_cmt, title_re, block_re, tag_re, sp_re, nl_re = _html_patterns()
    m = title_re.search(raw)
    title = _h.unescape(sp_re.sub(" ", m.group(1))).strip() if m else ""
    s = drop_se.sub(" ", raw)
    s = drop_cmt.sub(" ", s)
    s = block_re.sub("\n", s)
    s = tag_re.sub(" ", s)
    s = _h.unescape(s)
    s = sp_re.sub(" ", s)
    s = "\n".join(line.strip() for line in s.split("\n"))
    s = nl_re.sub("\n\n", s).strip()
    return title, s


def html_extract_text(
    df: DataFrame, html_col: str = "html", keep_html: bool = False
) -> DataFrame:
    """HTML -> text extraction, the first pass of every web-crawl training
    pipeline (the trafilatura/resiliparse role, rule-based subset):

      1. drop ``<script>``/``<style>`` blocks and comments;
      2. ``<title>`` captured into its own column;
      3. block-level tags (p/div/br/h1-6/li/table rows, ...) become
         newlines, every other tag becomes a space;
      4. entities unescape (``&amp;`` -> ``&``);
      5. horizontal whitespace collapses, lines strip, 2+ blank lines
         collapse to one blank line.

    One Arrow-batched pass per row (``mapInPandas`` barrier — title and
    text come out as materialized columns); adds ``title``, ``text``,
    ``text_chars``. Rows with NULL html yield NULL title/text."""
    out_fields = list(df.schema.fields)
    if not keep_html:
        out_fields = [f for f in out_fields if f.name != html_col]
    out_schema = T.StructType(
        out_fields
        + [
            T.StructField("title", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("text_chars", T.LongType()),
        ]
    )
    hi = df.columns.index(html_col)
    keep_cols = [f.name for f in out_fields]

    def gen(batches):
        for pdf in batches:
            titles, texts, chars = [], [], []
            for raw in pdf.iloc[:, hi]:
                if raw is None:
                    titles.append(None)
                    texts.append(None)
                    chars.append(None)
                    continue
                t, x = _html_to_text(str(raw))
                titles.append(t)
                texts.append(x)
                chars.append(len(x))
            out = pdf[keep_cols].copy()
            out["title"] = titles
            out["text"] = texts
            out["text_chars"] = pd.Series(chars, dtype="Int64")
            yield out

    return df.mapInPandas(gen, out_schema)


def _robots_rules(txt: str, agent: str = "*"):
    """Parse one robots.txt into [(allow: bool, pattern: str)] for the
    given user-agent, RFC 9309 group selection: the most specific
    matching user-agent line's group wins; '*' is the fallback."""
    best_len = -1
    rules: list = []
    cur_agents: list = []
    cur_rules: list = []
    in_group_body = False

    def flush():
        nonlocal best_len, rules
        for a in cur_agents:
            a_l = a.lower()
            if a_l == "*":
                spec = 0
            elif agent.lower().startswith(a_l):
                spec = len(a_l)
            else:
                continue
            if spec > best_len:
                best_len = spec
                rules = list(cur_rules)

    for line in (txt or "").splitlines():
        line = line.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if in_group_body:
                flush()
                cur_agents, cur_rules, in_group_body = [], [], False
            cur_agents.append(val)
        elif key in ("allow", "disallow"):
            in_group_body = True
            if val:
                cur_rules.append((key == "allow", val))
            elif key == "disallow":
                pass  # empty Disallow = allow all (no rule)
    flush()
    return rules


def _robots_match_len(pattern: str, path: str) -> int:
    """RFC 9309 wildcard match: '*' spans any chars, '$' anchors the end.
    Returns the pattern length for precedence (longest match wins) or -1.
    The TAIL part of an anchored pattern matches at the END of the path
    (a greedy leftmost find would wrongly reject '*ab$' vs 'abab')."""
    anchored = pattern.endswith("$")
    pat = pattern[:-1] if anchored else pattern
    parts = pat.split("*")
    if not path.startswith(parts[0]):
        return -1
    pos = len(parts[0])
    if len(parts) == 1:
        if anchored and pos != len(path):
            return -1
        return len(pattern)
    for part in parts[1:-1]:
        j = path.find(part, pos)
        if j < 0:
            return -1
        pos = j + len(part)
    last = parts[-1]
    if anchored:
        if not path.endswith(last) or len(path) - len(last) < pos:
            return -1
        return len(pattern)
    if path.find(last, pos) < 0:
        return -1
    return len(pattern)


def robots_allowed(
    urls: DataFrame,
    robots: DataFrame,
    url_col: str = "url",
    domain_col: str = "domain",
    robots_col: str = "robots_txt",
    agent: str = "*",
) -> DataFrame:
    """RFC 9309 robots.txt evaluation for a URL table — the crawl-prep
    gate between ``url_canonicalize`` and fetching (CommonCrawl-style
    pipelines re-check robots before training-data inclusion).

    ``robots`` holds one row per domain (``domain_col``,
    ``robots_col``); group selection picks the most specific matching
    user-agent (default fallback group '*'), rule precedence is the
    RFC's longest-match with allow winning ties; '*' wildcards and '$'
    anchors supported; no matching rule (or no robots row) = allowed.

    Scale shape: robots parse once per domain inside a BROADCAST join
    (the domain table is small next to the URL mass); one Arrow pass
    evaluates rules per URL; zero extra shuffles. Adds ``allowed``."""
    parsed_schema = T.StructType(
        list(robots.schema.fields)
        + [T.StructField("_rules_json", T.StringType())]
    )
    ri = robots.columns.index(robots_col)

    def parse_gen(batches):
        import json as _json

        for pdf in batches:
            out = pdf.copy()
            out["_rules_json"] = [
                _json.dumps(_robots_rules(txt, agent)) if txt is not None else "[]"
                for txt in pdf.iloc[:, ri]
            ]
            yield out

    parsed = robots.mapInPandas(parse_gen, parsed_schema).drop(robots_col)

    joined = urls.join(F.broadcast(parsed), on=domain_col, how="left")
    out_schema = T.StructType(
        [f for f in joined.schema.fields if f.name != "_rules_json"]
        + [T.StructField("allowed", T.BooleanType())]
    )
    ui = joined.columns.index(url_col)
    ji = joined.columns.index("_rules_json")
    keep = [f.name for f in out_schema.fields if f.name != "allowed"]

    def eval_gen(batches):
        import json as _json
        from urllib.parse import urlparse

        cache: dict = {}
        for pdf in batches:
            allowed = []
            for u, rj in zip(pdf.iloc[:, ui], pdf.iloc[:, ji]):
                if u is None:
                    allowed.append(None)
                    continue
                rules = cache.get(rj)
                if rules is None:
                    rules = _json.loads(rj) if rj is not None else []
                    cache[rj] = rules
                pr = urlparse(str(u))
                path = pr.path or "/"
                if pr.query:
                    path += "?" + pr.query
                verdict, best = True, -1
                for allow, pat in rules:
                    m = _robots_match_len(pat, path)
                    if m > best or (m == best and allow and not verdict):
                        if m >= 0:
                            verdict, best = allow, m
                allowed.append(bool(verdict))
            out = pdf[keep].copy()
            out["allowed"] = pd.Series(allowed, dtype="object")
            yield out

    return joined.mapInPandas(eval_gen, out_schema)
