"""Text-analysis operators for training-data pipelines (SURVEY.md scope
extension): token counting, quality scoring, language-ID heuristic,
document fingerprinting. All JVM-side Catalyst expressions — no Python
in the hot path; at 100 TB these run inside whole-stage codegen on the
scan projection."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword lists for the n-gram/stopword heuristic
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "fr": ["le", "la", "de", "et", "un"],
    "de": ["der", "die", "das", "und", "ein"],
    "es": ["el", "la", "de", "y", "un"],
}

# BPE-ish token regex: word pieces, numbers, or single punctuation marks
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bind1(expr: Column, fn) -> Column:
    """Evaluate `expr` ONCE per row and pass it to fn as a bound lambda
    variable: element_at(transform(array(expr), x -> fn(x)), 1).

    Catalyst inlines outer-column references inside higher-order-function
    lambdas, so an expression like transform(seq, i -> f(tokens(text), i))
    re-evaluates tokens() PER ELEMENT (measured: 4.5ms/doc -> O(n^2) in
    tokens). Wrapping in a 1-element array makes it a lambda variable,
    which is evaluated exactly once."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def tokens(col: Column) -> Column:
    """Whitespace tokenization of collapsed text."""
    return F.split(F.trim(F.regexp_replace(col, r"\s+", " ")), " ")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish count: letters runs + digit runs + punctuation marks."""
    return F.size(F.regexp_extract_all(col, F.lit(TOKEN_RE), 0))


def punct_ratio(col: Column) -> Column:
    n_punct = F.length(col) - F.length(F.regexp_replace(col, r"[^\w\s]", ""))
    return F.when(F.length(col) > 0, n_punct / F.length(col)).otherwise(0.0)


def _isin_pred(words: list[str]):
    # NOTE: never use default-arg lambdas (lambda t, w=words: ...) in
    # Spark HOFs — the extra parameter makes PySpark pass the array INDEX
    # as the second argument, silently clobbering the default.
    def pred(t):
        return t.isin(*words)
    return pred


def stopword_count(col: Column, lang: str = "en") -> Column:
    toks = tokens(F.lower(col))
    return F.size(F.filter(toks, _isin_pred(STOPWORDS[lang])))


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    n = token_count(col)
    return F.when(n > 0, stopword_count(col, lang) / n).otherwise(0.0)


def quality_score(col: Column, lang: str = "en") -> Column:
    """Composite quality in [0,1]: length band + low punctuation +
    stopword presence (heuristics in the C4/Gopher tradition)."""
    n = token_count(col)
    len_ok = F.when((n >= 10) & (n <= 1000), 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio(col) <= 0.2, 1.0).otherwise(0.0)
    stop_ok = F.when(stopword_ratio(col, lang) >= 0.01, 1.0).otherwise(0.0)
    return (len_ok + punct_ok + stop_ok) / 3.0


def lang_guess(col: Column) -> Column:
    """Stopword-vote language guess: the language with the most stopword
    hits wins; ties broken by fixed language order (deterministic)."""
    toks = tokens(F.lower(col))
    scores = []
    for lang in ("en", "fr", "de", "es"):
        scores.append(
            F.struct(F.size(F.filter(toks, _isin_pred(STOPWORDS[lang])))
                     .alias("score"),
                     F.lit({"en": 3, "fr": 2, "de": 1, "es": 0}[lang])
                     .alias("prio"),
                     F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("unknown"))


def fingerprint(col: Column) -> Column:
    """Whole-document fingerprint: md5 of whitespace-collapsed text
    (reference analog: canonical lexical form before equality checks,
    simple_types.py:447-463)."""
    return F.md5(F.trim(F.regexp_replace(col, r"\s+", " ")))


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """Word k-shingles from an already-bound token array.

    Guard: Spark's sequence(1, 0) yields a DESCENDING [1, 0], not an
    empty array, and ANSI element_at throws on out-of-range — so texts
    shorter than k tokens must short-circuit to an empty array (matches
    SQL generate_series semantics, where 1..0 is empty)."""
    n = F.size(toks)
    idx = F.sequence(F.lit(1), n - (k - 1))
    sh = F.transform(
        idx, lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j).cast("int")) for j in range(k)]))
    return F.when(n >= k, sh).otherwise(F.expr("CAST(array() AS array<string>)"))


def shingles(col: Column, k: int = 3) -> Column:
    """Word k-shingles as an array of strings (dedup building block)."""
    return bind1(tokens(col), lambda t: shingles_from_tokens(t, k))


def minhash_signature(col: Column, n_hashes: int = 4, k: int = 3) -> Column:
    """MinHash over word k-shingles, as a STRUCT column (h0..h{n-1}).
    Each hash family h_s(x) = md5(s || '|' || x); the signature element
    is the lexicographic MIN digest — identical math is expressible in
    any SQL engine (portable oracle), and md5 is uniform enough for
    Jaccard estimation. Extract fields through a Generate barrier
    (F.inline(F.array(sig))) — plain field selects re-inline the tree."""
    def hasher(prefix: str):
        def h(x):
            return F.md5(F.concat(F.lit(prefix), x))
        return h

    def sig_from(sh):
        return F.struct(*[
            F.array_min(F.transform(sh, hasher(f"{s}|"))).alias(f"h{s}")
            for s in range(n_hashes)])

    # bind shingles once; the n_hashes families share the evaluation
    return bind1(shingles(col, k), sig_from)


def _hex_digits(m: Column, n_digits: int) -> Column:
    """First n_digits hex digits of a (lowercase-hex) digest string as an
    array<int> — the PORTABLE bit source for simhash: md5 is identical in
    every engine, and digit extraction is plain substring+base-16 parse
    (DuckDB: strpos('0123456789abcdef', substr(m, p, 1)) - 1)."""
    return F.array(*[F.conv(F.substring(m, p + 1, 1), 16, 10).cast("int")
                     for p in range(n_digits)])


def _band_bit_pred(c: int, mask: int):
    # NOTE: never use default-arg lambdas (see _isin_pred) — bind c/mask
    # through a closure factory instead.
    def pred(d):
        return d.getItem(c).bitwiseAND(mask) != 0
    return pred


def _simhash_fold(col: Column, n_bits: int, pack) -> Column:
    """Shared SimHash pipeline: tokens -> per-token md5 hex-digit arrays
    (bound ONCE - the per-bit folds share the evaluation) -> per-bit
    majority vote. Bit b of token t is bit (b % 4) of hex digit (b // 4)
    of md5(t) - exactly reproducible in any SQL engine (the DuckDB
    oracles replicate it with list comprehensions), unlike xxhash64.
    `pack(bit_cols)` shapes the n_bits majority-vote booleans into the
    output column; both oracles' SQL generators mirror THIS bit
    derivation, so any change here must update them together."""
    def fold(dgs):                       # array<array<int>>, one per token
        n = F.size(dgs)
        bits = []
        for b in range(n_bits):
            c, mask = b // 4, 1 << (b % 4)
            ones = F.size(F.filter(dgs, _band_bit_pred(c, mask)))
            bits.append(ones * 2 > n)
        return pack(bits)

    return bind1(
        bind1(tokens(col),
              lambda t: F.transform(
                  t, lambda x: bind1(F.md5(x),
                                     lambda m: _hex_digits(m,
                                                           n_bits // 4)))),
        fold)


def simhash48(col: Column) -> Column:
    """48-bit SimHash over whitespace tokens (portable md5 bit source -
    see _simhash_fold). 48 bits (12 hex digits) keeps every
    intermediate in positive bigint range on both sides (no
    signed-overflow edge at bit 63)."""
    def pack(bits):
        out = F.lit(0).cast("bigint")
        for b, is_one in enumerate(bits):
            out = out.bitwiseOR(
                F.when(is_one, F.lit(1 << b).cast("bigint"))
                 .otherwise(F.lit(0).cast("bigint")))
        return out

    return _simhash_fold(col, 48, pack)


def simhash64_pair(col: Column) -> Column:
    """64-bit SimHash as a (hi32, lo32) struct - for parity with
    external 64-bit SimHash systems while keeping every intermediate in
    positive-bigint range on ANY engine (a single signed 64-bit value
    can't carry bit 63 portably; the two-column split can, and users
    reassemble hi*2^32 + lo where their engine allows it).
    hi32 = bits 32..63, lo32 = bits 0..31, both non-negative bigint."""
    def pack(bits):
        lo = F.lit(0).cast("bigint")
        hi = F.lit(0).cast("bigint")
        for b, is_one in enumerate(bits):
            bit = F.when(is_one, F.lit(1 << (b % 32)).cast("bigint")) \
                   .otherwise(F.lit(0).cast("bigint"))
            if b < 32:
                lo = lo.bitwiseOR(bit)
            else:
                hi = hi.bitwiseOR(bit)
        return F.struct(hi.alias("hi32"), lo.alias("lo32"))

    return _simhash_fold(col, 64, pack)


# per-task unique-token digest cache bound (tokens): 1<<20 entries of
# n_bits uint8 bit-rows is 64 MB/worker at 64 bits, plus ~130 B per
# token for the tok_idx dict (tracemalloc), ~200 MB/worker in all —
# sized so a reused worker keeps a full corpus vocabulary without
# unbounded growth
_SIMHASH_TOK_CACHE_MAX = 1 << 20


def _simhash_fast_frame(df: DataFrame, text_col: str, keep_cols,
                        n_bits: int, out_names: list,
                        pack_batch) -> DataFrame:
    """Shared Arrow core for the vectorized SimHash twins: same bit
    derivation as _simhash_fold (bit b of token t = bit (b % 4) of hex
    digit (b // 4) of md5(t), per-bit majority vote over whitespace
    tokens), computed in one mapInArrow pass instead of n_bits
    Catalyst array-filter folds (~0.5 ms/doc of expression overhead).
    NULL text -> all-zero outputs and empty/whitespace-only text ->
    the hash of [''] — both matching the HOF folds exactly
    (equality-tested in tests/test_pipeline_ops.py).

    r8 kernel (guide §4.2 — hand whole batches to vectorized numpy,
    keep per-row Python minimal): md5 runs ONCE per UNIQUE token (the
    digest bit-rows are cached across batches in the reused worker,
    bounded by _SIMHASH_TOK_CACHE_MAX), and the per-bit majority vote
    is one np.add.reduceat segmented sum over the whole batch's token
    stream instead of a per-row reshape/sum — natural-language token
    streams repeat heavily (stopwords), so the interpreter-bound
    md5-per-token loop of r7 collapses to the unique-token tail. The
    bit semantics, tokenization and packing are unchanged and remain
    property-tested via _simhash_bits.

    Tokenization mirrors tokens(): Java \\s is [ \\t\\n\\x0B\\f\\r]
    (NOT unicode-aware), so the Python regex is spelled with that
    class explicitly; trim strips spaces only; split on a single
    space keeps empty strings ([''] for empty input). md5 runs over
    UTF-8 bytes on both sides. pack_batch(setb) maps the (rows,
    n_bits) majority-vote boolean matrix to one int64 array per
    output column."""
    from ..distribute import ensure_distributed
    ensure_distributed(df.sparkSession)
    keep = list(keep_cols)
    narrow = df.select(*dict.fromkeys(keep + [text_col]))
    fields = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                       for f in narrow.schema.fields if f.name in keep)
    out_schema = (fields + ", " if fields else "") + \
        ", ".join(f"{n} bigint" for n in out_names)
    nbytes = n_bits // 8

    def run(batches):
        import hashlib
        import re

        import numpy as np
        import pyarrow as pa
        ws = re.compile("[ \t\n\x0b\f\r]+")
        nib = np.arange(4, dtype=np.uint8)
        tok_idx: dict = {}            # token -> row in bit_table
        bit_table = np.empty((0, n_bits), np.uint8)

        def digest_rows(toks: list):
            """(len(toks), n_bits) uint8 bit matrix — the exact digit
            expansion of _simhash_bits, over unique tokens only."""
            raw = b"".join(hashlib.md5(t.encode("utf-8")).digest()[:nbytes]
                           for t in toks)
            by = np.frombuffer(raw, np.uint8).reshape(len(toks), nbytes)
            digits = np.empty((len(toks), nbytes * 2), np.uint8)
            digits[:, 0::2] = by >> 4
            digits[:, 1::2] = by & 15
            return ((digits[:, :, None] >> nib) & 1) \
                .reshape(len(toks), n_bits)

        for b in batches:
            texts = b.column(text_col).to_pylist()
            m = len(texts)
            outs = [np.zeros(m, np.int64) for _ in out_names]
            flat: list = []           # token stream over non-null rows
            ptr = [0]                 # row boundaries into flat
            live: list = []           # row index per non-null row
            for j, s in enumerate(texts):
                if s is None:
                    continue          # HOF folds yield zeros
                flat.extend(ws.sub(" ", s).strip(" ").split(" "))
                ptr.append(len(flat))
                live.append(j)
            if flat:
                if len(tok_idx) > _SIMHASH_TOK_CACHE_MAX:
                    tok_idx.clear()
                    bit_table = np.empty((0, n_bits), np.uint8)
                miss = [t for t in dict.fromkeys(flat)
                        if t not in tok_idx]
                if miss:
                    base = len(tok_idx)
                    for k, t in enumerate(miss):
                        tok_idx[t] = base + k
                    bit_table = np.concatenate(
                        [bit_table, digest_rows(miss)])
                idx = np.fromiter(map(tok_idx.__getitem__, flat),
                                  np.int64, len(flat))
                sums = np.add.reduceat(
                    bit_table[idx], np.asarray(ptr[:-1], np.int64),
                    axis=0, dtype=np.int64)
                ntoks = np.diff(np.asarray(ptr, np.int64))
                setb = sums * 2 > ntoks[:, None]
                for o, packed in zip(outs, pack_batch(setb)):
                    o[live] = packed
            cols = [b.column(k) for k in keep]
            yield pa.record_batch(
                cols + [pa.array(o) for o in outs],
                names=keep + out_names)

    return narrow.mapInArrow(run, out_schema)


def _simhash_bits(s: str, n_bits: int):
    """Per-text SimHash majority-vote bits (bool ndarray of n_bits) —
    the pure-Python/numpy kernel of _simhash_fast_frame, module-level
    so it is property-testable without Spark against the documented
    spec (bit b of token t = bit (b % 4) of hex digit (b // 4) of
    md5(t); Java-\\s tokenization; [''] for empty input)."""
    import hashlib
    import re

    import numpy as np
    toks = re.sub("[ \t\n\x0b\f\r]+", " ", s).strip(" ").split(" ")
    n = len(toks)
    nbytes = n_bits // 8
    raw = b"".join(hashlib.md5(t.encode("utf-8")).digest()[:nbytes]
                   for t in toks)
    by = np.frombuffer(raw, np.uint8).reshape(n, nbytes)
    digits = np.empty((n, nbytes * 2), np.uint8)
    digits[:, 0::2] = by >> 4
    digits[:, 1::2] = by & 15
    nib = np.arange(4, dtype=np.uint8)
    ones = ((digits[:, :, None] >> nib) & 1) \
        .reshape(n, n_bits).sum(axis=0, dtype=np.int64)
    return ones * 2 > n


def simhash64_fast(df: DataFrame, text_col: str,
                   *keep_cols: str) -> DataFrame:
    """Vectorized Arrow twin of `simhash64_pair` (see
    _simhash_fast_frame): BITWISE-identical `keep_cols + (hi32, lo32)`
    at a multiple of the HOF fold's throughput."""
    import numpy as np
    shifts = (np.int64(1) << np.arange(32, dtype=np.int64))

    def pack(setb):
        w = setb.astype(np.int64)
        return (w[:, 32:] @ shifts, w[:, :32] @ shifts)   # hi32, lo32

    return _simhash_fast_frame(df, text_col, keep_cols, 64,
                               ["hi32", "lo32"], pack)


def simhash48_fast(df: DataFrame, text_col: str,
                   *keep_cols: str) -> DataFrame:
    """Vectorized Arrow twin of `simhash48` (see _simhash_fast_frame):
    BITWISE-identical `keep_cols + sh48` single non-negative bigint
    (48 bits keep every value in positive range, as the HOF packer
    documents)."""
    import numpy as np
    shifts = (np.int64(1) << np.arange(48, dtype=np.int64))

    def pack(setb):
        return (setb.astype(np.int64) @ shifts,)

    return _simhash_fast_frame(df, text_col, keep_cols, 48,
                               ["sh48"], pack)
