"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the whole point of these at 100 TB):
- Exact dedup is a hash-groupBy — one shuffle on a 16-byte digest, never on
  the full text.
- MinHash-LSH: shingle → K minhashes → B bands; candidate pairs come from a
  self-join on (band_id, band_hash) buckets, so the join key space is tiny
  and skew-resistant; only candidates get verified. No O(n²) stage.
- SimHash: 64-bit signature per doc via bit-vote aggregation of token
  hashes — computed entirely with higher-order functions, then near-dup =
  hamming distance ≤ d on bucketed prefixes.
- n-gram Jaccard: exact verification metric, explode+join on shingle
  hashes, computed only for LSH candidates (or small inputs).

All hashing is Spark's xxhash64 (JVM, deterministic across runs/clusters).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Mersenne prime 2^31-1 for the universal-hash family: with a,b,x < 2^31,
# a*x+b < 2^62 stays inside a 64-bit long (Spark runs ANSI mode — a 2^61
# prime would overflow the multiply). 31-bit minhash space is ample.
_MERSENNE = (1 << 31) - 1


def poly_hash64(col: Column | str) -> Column:
    """SQL-expressible deterministic string hash (~62 bits): two 31-bit
    polynomial rolling hashes over Unicode code points (multipliers 31/37,
    inits 7/11, mod 2^31-1) packed as hi*2^31+lo. Bit-identical to the
    DuckDB expression emitted by ``queries._sqlhash.duck_poly64`` — this is
    the hash the oracle-gated dedup entries use so MinHash/SimHash/LSH
    outputs are cross-engine checkable. xxhash64 stays the production
    default (JVM-native, faster, 64 full bits); the pipelines accept either
    via their ``hash_fn`` parameter. Stays in ANSI-safe long range:
    acc < 2^31 so acc*37+c < 2^36, and hi*2^31+lo < 2^62.

    r10 opt (guide §1.2 per-task work): both folds run in ONE
    struct-accumulator pass. Higher-order functions are interpreted
    (CodegenFallback), and the two-fold form evaluated the ``codes``
    transform once per fold — the dominant cost of every poly-hashed
    shingle. Same recurrences, same constants, bit-identical output
    (equality-checked A/B, since deleted: min wall 0.50→0.37 s hashing
    500 full documents at sf0.01)."""
    c = F.col(col) if isinstance(col, str) else col
    codes = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(c), F.lit(1))),
        lambda i: F.ascii(c.substr(i, F.lit(1))).cast("long"))
    acc0 = F.struct(F.lit(7).cast("long").alias("a"),
                    F.lit(11).cast("long").alias("b"))
    folded = F.aggregate(
        codes, acc0,
        lambda acc, x: F.struct(
            F.pmod(acc["a"] * 31 + x, F.lit(_MERSENNE)).alias("a"),
            F.pmod(acc["b"] * 37 + x, F.lit(_MERSENNE)).alias("b")))
    return folded["a"] * F.lit(1 << 31).cast("long") + folded["b"]


def exact_dedup(df: DataFrame, cols: list[str] | None = None,
                id_col: str = "doc_id") -> DataFrame:
    """Keep one row (min id) per distinct value of `cols` (default: all
    non-id columns). Shuffles on a digest, not the payload."""
    cols = cols or [c for c in df.columns if c != id_col]
    digest = F.md5(F.to_json(F.struct(*[F.col(c) for c in cols])).cast("binary"))
    keep = (df.select(F.col(id_col), digest.alias("__digest"))
            .groupBy("__digest").agg(F.min(id_col).alias(id_col)))
    return df.join(keep.select(id_col), id_col, "left_semi")


def char_shingles(col: Column | str, k: int = 5, hash_fn=F.xxhash64) -> Column:
    """Array of hashed k-char shingles (distinct). ``hash_fn`` maps a
    string Column to a long Column — xxhash64 (default) or poly_hash64
    (SQL-expressible, for oracle-gated runs)."""
    c = F.col(col) if isinstance(col, str) else col
    starts = F.sequence(F.lit(1), F.greatest(F.length(c) - k + 1, F.lit(1)))
    return F.array_distinct(
        F.transform(starts, lambda s: hash_fn(c.substr(s, F.lit(k)))))


def word_shingles(col: Column | str, k: int = 3, hash_fn=F.xxhash64) -> Column:
    """Array of hashed k-word shingles (distinct)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.trim(c), r"\s+")
    n = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1)))
    return F.array_distinct(F.transform(
        starts,
        lambda s: hash_fn(F.concat_ws(" ", F.slice(toks, s, k)))))


def minhash_signature(shingles: Column, num_hashes: int = 128,
                      seed: int = 42) -> Column:
    """MinHash signature: for hash family h_i(x) = (a_i*x + b_i) mod p,
    signature[i] = min over shingles. a_i/b_i derived deterministically
    from the seed. Pure HOF pipeline — one pass over the shingle array per
    hash function, no shuffle, no UDF."""
    import random
    rng = random.Random(seed)
    params = [(rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE))
              for _ in range(num_hashes)]
    # pmod keeps values positive (xxhash64 is signed)
    def h(a: int, b: int) -> Column:
        return F.array_min(F.transform(
            shingles,
            lambda x: F.pmod(F.pmod(x, F.lit(_MERSENNE)) * F.lit(a) + F.lit(b),
                             F.lit(_MERSENNE))))
    return F.array(*[h(a, b) for a, b in params])


def _minhash_sig_rows(num_hashes: int = 128, seed: int = 42):
    """Arrow-vectorized core of ``minhash_signature`` (guide §4.2):
    a function mapping one list-of-shingle-arrays batch to a list of
    signature lists, replaying the expression form bit for bit.

    Why this exists: the Column form is ``num_hashes`` interpreted
    transform+array_min passes over each document's shingle array —
    higher-order functions are CodegenFallback, so at 128 hashes every
    doc pays 128 interpreted walks of its shingles. This core runs ONE
    numpy pass per hash function over the whole batch's flattened
    shingles: identical seeded (a_i, b_i) draws, identical pmod
    arithmetic (numpy int64 ``%`` with a positive modulus has the
    sign-of-divisor semantics Spark's pmod has, and
    ``pmod(x,p) * a + b < 2^62`` never overflows int64), and identical
    NULL semantics — a NULL or empty shingle array yields the array of
    ``num_hashes`` NULL mins the expression form produces
    (transform/array_min of NULL propagate; array_min of an empty array
    is NULL). NULL *elements* must be dropped by the caller before the
    Arrow boundary, exactly as array_min skips them. Pinned bit-equal
    to the Column form by
    tests/test_functions.py::test_minhash_batched_matches_expression."""
    import random
    import numpy as np

    rng = random.Random(seed)
    params = [(rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE))
              for _ in range(num_hashes)]
    A = np.asarray([p[0] for p in params], dtype=np.int64)
    B = np.asarray([p[1] for p in params], dtype=np.int64)
    P = np.int64(_MERSENNE)
    none_sig = [None] * num_hashes

    def compute(shingle_arrays) -> list:
        n = len(shingle_arrays)
        lens = np.zeros(n, dtype=np.int64)
        chunks = []
        for j, arr in enumerate(shingle_arrays):
            if arr is None:
                continue
            a = np.asarray(arr, dtype=np.int64)
            if a.size:
                lens[j] = a.size
                chunks.append(a)
        nonempty = lens > 0
        out: list = [none_sig] * n
        if chunks:
            X = np.concatenate(chunks)
            R = X % P                      # == Spark pmod(x, p): p > 0
            starts = np.zeros(len(chunks), dtype=np.int64)
            starts[1:] = np.cumsum(lens[nonempty])[:-1]
            M = np.empty((len(chunks), num_hashes), dtype=np.int64)
            for i in range(num_hashes):
                V = (R * A[i] + B[i]) % P  # < 2^62 before the mod
                M[:, i] = np.minimum.reduceat(V, starts)
            for j, row in zip(np.flatnonzero(nonempty), M.tolist()):
                out[j] = row
        return out

    return compute


def minhash_signatures(df: DataFrame, id_col: str, shingles: Column,
                       num_hashes: int = 128, seed: int = 42) -> DataFrame:
    """(id, sig) DataFrame via mapInPandas over (id, shingle array) —
    the DataFrame-scale companion of the ``minhash_signature`` Column
    form (bit-identical output, pinned by test).

    mapInPandas rather than a scalar pandas_udf deliberately: a
    PythonUDF *expression* gets inlined by CollapseProject /
    PushProjectionThroughUnion into Generate and Union branches, where
    ExtractPythonUDFs misses it on non-file-scan legs and execution
    dies with INTERNAL_ERROR "Cannot generate code for expression"
    (observed on this exact pipeline: the LSH self-join's deduplicated
    right branch kept the raw UDF). A mapInPandas node is a plan
    OPERATOR — nothing can inline it — and only (id, shingles) cross
    the Python boundary (guide §4.1: pass only what the function
    needs)."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    compute = _minhash_sig_rows(num_hashes, seed)
    # array_min SKIPS null elements: drop them before the Arrow
    # boundary so the int64 math never sees them (an all-null or empty
    # array then takes the all-NULL-signature path, exactly as the
    # expression form's array_min(empty/all-null) = NULL does)
    clean = F.when(shingles.isNotNull(),
                   F.filter(shingles, lambda x: x.isNotNull()))
    src = df.select(F.col(id_col), clean.alias("__sh"))
    schema = StructType([src.schema[id_col],
                         StructField("sig", ArrayType(LongType()))])

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame({id_col: pdf[id_col],
                                "sig": compute(list(pdf["__sh"]))})

    return src.mapInPandas(gen, schema)


def _hash_batch_for(hash_fn, np):
    """The vectorized batch replay of ``hash_fn`` (a string Column →
    long Column function), or None when no bit-equal replay exists and
    the caller must stay on the expression path. poly_hash64 →
    _poly_hash_batch; F.xxhash64 → _xxh64_batch (seed 42)."""
    if hash_fn is poly_hash64:
        return lambda strs: _poly_hash_batch(strs, np)
    if hash_fn is F.xxhash64:
        return lambda strs: _xxh64_batch(strs, np)
    return None


def _poly_hash_batch(strs, np):
    """Vectorized replay of ``poly_hash64`` over a batch of Python
    strings: one int64 hash per input, bit-identical to the Column form.

    Semantics replayed exactly (probed against Spark 4.1 and pinned by
    test_minhash_fused_matches_expression):
    - codes are Unicode code points (Spark's ``ascii``/``substr`` count
      code points, astral chars included);
    - the empty string hashes as the single code 0 (``sequence(1,
      greatest(len,1))`` yields one index and ``ascii('') = 0``);
    - accumulators a=7/b=11, multipliers 31/37, mod 2^31-1, packed as
      a*2^31+b — all inside int64 (a < 2^31 so a*31+c < 2^36).

    The recurrence is sequential per string, so vectorization runs
    ACROSS strings position by position: rows sorted by length
    descending make the live rows a shrinking prefix, so total work is
    sum(len) rather than n*maxlen."""
    n = len(strs)
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    # u4 views over the utf-32 bytes are zero-copy; the concatenated
    # flat array stays u4 (4 B/char) and each position's gathered slice
    # is cast to int64 just-in-time, bounding batch memory at ~8 B/char
    # even for text-heavy 10k-row Arrow batches
    codes = [np.frombuffer(s.encode("utf-32-le"), dtype="<u4")
             if s else np.zeros(1, dtype="<u4") for s in strs]
    lens = np.fromiter((c.size for c in codes), dtype=np.int64, count=n)
    order = np.argsort(-lens, kind="stable")
    slens = lens[order]
    flat = np.concatenate([codes[i] for i in order])
    starts = np.zeros(n, dtype=np.int64)
    starts[1:] = np.cumsum(slens)[:-1]
    P = np.int64(_MERSENNE)
    a = np.full(n, 7, dtype=np.int64)
    b = np.full(n, 11, dtype=np.int64)
    maxlen = int(slens[0])
    neg = -slens  # ascending; count of slens >= j+1 per position j
    for j in range(maxlen):
        m = int(np.searchsorted(neg, -(j + 1), side="right"))
        c = flat[starts[:m] + j].astype(np.int64)
        a[:m] = (a[:m] * 31 + c) % P
        b[:m] = (b[:m] * 37 + c) % P
    out[order] = a * np.int64(1 << 31) + b
    return out


def _xxh64_batch(strs, np, seed: int = 42):
    """Vectorized replay of Spark's ``xxhash64`` over a batch of Python
    strings: one int64 hash per input, bit-identical to the Column form
    (XXH64 over the UTF-8 bytes, seed 42 — probed against Spark 4.1 on
    every tail length 0..40, multibyte/astral text, and 31/32/33-byte
    stripe boundaries; pinned by the fused-equivalence tests).

    The XXH64 recurrences are sequential per string but independent
    ACROSS strings, so the batch runs position-by-position with masks:
    the 32-byte stripe loop iterates ceil(maxlen/32) times over the rows
    that still have a full stripe, then the 8/4/1-byte tail steps run
    over their masked subsets. All arithmetic is uint64 arrays (numpy
    wraps mod 2^64 like the JVM's long); constants stay np.uint64 to
    dodge the uint64-scalar float promotion."""
    n = len(strs)
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    u64 = np.uint64
    P1, P2, P3 = u64(0x9E3779B185EBCA87), u64(0xC2B2AE3D27D4EB4F), \
        u64(0x165667B19E3779F9)
    P4, P5 = u64(0x85EBCA77C2B2AE63), u64(0x27D4EB2F165667C5)

    def rotl(x, r):
        return (x << u64(r)) | (x >> u64(64 - r))

    bufs = [s.encode("utf-8") for s in strs]
    lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=n)
    # 32 zero bytes of padding keep every gather in-bounds; masked rows
    # never consume the padding values
    data = np.frombuffer(b"".join(bufs) + b"\0" * 32, dtype=np.uint8)
    starts = np.zeros(n, dtype=np.int64)
    starts[1:] = np.cumsum(lens)[:-1]

    def gather(off, width, view):
        g = data[off[:, None] + np.arange(width)]
        return np.ascontiguousarray(g).view(view)[:, 0].astype(np.uint64)

    h = np.full(n, (seed + int(P5)) & 0xFFFFFFFFFFFFFFFF, dtype=np.uint64)
    big = np.flatnonzero(lens >= 32)
    if big.size:
        v1 = np.full(big.size, (seed + int(P1) + int(P2))
                     & 0xFFFFFFFFFFFFFFFF, dtype=np.uint64)
        v2 = np.full(big.size, (seed + int(P2)) & 0xFFFFFFFFFFFFFFFF,
                     dtype=np.uint64)
        v3 = np.full(big.size, seed, dtype=np.uint64)
        v4 = np.full(big.size, (seed - int(P1)) & 0xFFFFFFFFFFFFFFFF,
                     dtype=np.uint64)
        nstripes = lens[big] // 32
        for s in range(int(nstripes.max())):
            m = np.flatnonzero(nstripes > s)
            off = starts[big[m]] + 32 * s
            g = np.ascontiguousarray(data[off[:, None] + np.arange(32)])
            lanes = g.view("<u8").astype(np.uint64)     # (k, 4)
            for i, v in enumerate((v1, v2, v3, v4)):
                acc = v[m] + lanes[:, i] * P2
                v[m] = rotl(acc, 31) * P1
        hb = rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)
        for v in (v1, v2, v3, v4):
            hb ^= rotl(v * P2, 31) * P1
            hb = hb * P1 + P4
        h[big] = hb
    h += lens.astype(np.uint64)
    consumed = np.where(lens >= 32, 32 * (lens // 32), 0)
    pos = starts + consumed
    rem = lens - consumed                                # 0..31
    n8 = rem // 8                                        # 0..3
    for w in range(3):
        m = np.flatnonzero(n8 > w)
        if not m.size:
            break
        k = gather(pos[m] + 8 * w, 8, "<u8")
        h[m] ^= rotl(k * P2, 31) * P1
        h[m] = rotl(h[m], 27) * P1 + P4
    pos4 = pos + 8 * n8
    rem4 = rem - 8 * n8                                  # 0..7
    m = np.flatnonzero(rem4 >= 4)
    if m.size:
        k = gather(pos4[m], 4, "<u4")
        h[m] ^= k * P1
        h[m] = rotl(h[m], 23) * P2 + P3
    posb = pos4 + np.where(rem4 >= 4, 4, 0)
    remb = rem4 - np.where(rem4 >= 4, 4, 0)              # 0..3
    for b in range(3):
        m = np.flatnonzero(remb > b)
        if not m.size:
            break
        k = data[posb[m] + b].astype(np.uint64)
        h[m] ^= k * P5
        h[m] = rotl(h[m], 11) * P1
    h ^= h >> u64(33)
    h *= P2
    h ^= h >> u64(29)
    h *= P3
    h ^= h >> u64(32)
    out[:] = h.view(np.int64)
    return out


def _java_tokens(text: str) -> list:
    """Replay ``split(trim(text), r"\\s+")``: Spark's trim strips only
    0x20, and Java regex \\s (no UNICODE_CHARACTER_CLASS) is ASCII-only
    — NBSP etc. are NOT separators — with leading/trailing empty tokens
    kept exactly as re.split keeps them (split's limit is -1)."""
    import re
    ws = _java_tokens.__dict__.get("ws")
    if ws is None:
        ws = _java_tokens.ws = re.compile(r"[ \t\n\x0b\f\r]+")
    return ws.split(text.strip(" "))


def _word_shingle_strs(text: str, k: int) -> list:
    """Replay ``word_shingles``'s string construction: Java tokens then
    concat_ws(" ", slice(toks, i, k)) windows."""
    toks = _java_tokens(text)
    nsh = max(len(toks) - k + 1, 1)
    return [" ".join(toks[i:i + k]) for i in range(nsh)]


def _char_shingle_strs(text: str, k: int) -> list:
    """Replay ``char_shingles``: substr(text, i, k) windows by code
    point (Python str slicing is code-point slicing too)."""
    nsh = max(len(text) - k + 1, 1)
    return [text[i:i + k] for i in range(nsh)]


def minhash_text_signatures(df: DataFrame, id_col: str, text_col: str,
                            k_shingle: int = 3, num_hashes: int = 128,
                            seed: int = 42, use_words: bool = True,
                            hash_fn=poly_hash64) -> DataFrame:
    """(id, sig) via ONE mapInPandas over (id, text): fused Arrow replay
    of word/char_shingles(hash_fn) + minhash_signature (guide §4.2 —
    hand whole batches to numpy instead of interpreted expression
    walks).

    Why: every shingle pays interpreted higher-order-function iteration
    (transform/aggregate are CodegenFallback), which dominates the whole
    MinHash pipeline — with poly_hash64 the per-character aggregate on
    top. This path replays the exact string construction
    (_word_shingle_strs/_char_shingle_strs), the exact hash
    (_poly_hash_batch or, r11, _xxh64_batch for the production-default
    xxhash64), array_distinct's first-occurrence order, and the
    signature core (_minhash_sig_rows) — NULL text yields the all-NULL
    signature, and a non-NULL text always yields >= 1 shingle (the
    expression form's greatest(..., 1) floor), so the outputs are
    bit-identical. Pinned by
    tests/test_functions.py::test_minhash_fused_matches_expression (and
    its xxhash64 twin). The shingle→hash replay is hash-agnostic: both
    expression forms hash only concat_ws/substr outputs, which are
    never NULL for a non-NULL text."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType
    import numpy as np

    hb = _hash_batch_for(hash_fn, np)
    if hb is None:
        raise ValueError("no bit-equal batch replay for this hash_fn")
    # char_shingles(NULL): greatest(length(NULL)-k+1, 1) ignores the
    # NULL, so ONE window is hashed over the NULL substring — poly's
    # aggregate propagates it to [NULL] (all-NULL signature), while
    # xxhash64 skips NULL children and returns its seed: [42]
    null_char_sh = None if hash_fn is poly_hash64 else [42]
    sig_core = _minhash_sig_rows(num_hashes, seed)
    mk = _word_shingle_strs if use_words else _char_shingle_strs

    def compute(texts) -> list:
        shingle_strs: list = []
        bounds = [0]
        for t in texts:
            if t is not None:
                shingle_strs.extend(mk(t, k_shingle))
            elif use_words:
                # word_shingles(NULL) is NOT NULL: size(NULL)/greatest
                # still yield one start and concat_ws(" ", NULL_tokens)
                # swallows the null array into '', so the expression
                # form produces the one-shingle array [hash('')]
                shingle_strs.append("")
            bounds.append(len(shingle_strs))
        hashes = hb(shingle_strs)
        arrays = []
        for t, lo, hi in zip(texts, bounds, bounds[1:]):
            if t is None and not use_words:
                arrays.append(null_char_sh)
            else:
                # array_distinct keeps first occurrence; dict preserves
                # insertion order
                arrays.append(list(dict.fromkeys(hashes[lo:hi].tolist())))
        return sig_core(arrays)

    src = df.select(F.col(id_col), F.col(text_col).alias("__t"))
    schema = StructType([src.schema[id_col],
                         StructField("sig", ArrayType(LongType()))])

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame({id_col: pdf[id_col],
                                "sig": compute(list(pdf["__t"]))})

    return src.mapInPandas(gen, schema)


def poly_shingle_arrays(df: DataFrame, id_col: str, text_col: str,
                        k_shingle: int = 3, use_words: bool = True,
                        hash_fn=poly_hash64) -> DataFrame:
    """(id, sh) via mapInPandas: the exact value of
    ``word/char_shingles(text, k, hash_fn)`` as an Arrow-batched
    operator (same string construction, same hash — poly_hash64 or,
    r11, the xxhash64 replay — same array_distinct first-occurrence
    order, same NULL asymmetry). Used by the verification stage of the
    fused MinHash pipelines so each candidate document's shingle set is
    computed once in numpy instead of per joined pair in interpreted
    expression walks (where the join condition and the output
    projection each re-evaluate it)."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType
    import numpy as np

    hb = _hash_batch_for(hash_fn, np)
    if hb is None:
        raise ValueError("no bit-equal batch replay for this hash_fn")
    # see minhash_text_signatures: the char-mode NULL-text shingle array
    # is [NULL] under poly_hash64 but [seed]=[42] under xxhash64
    null_char_sh = None if hash_fn is poly_hash64 else [42]
    mk = _word_shingle_strs if use_words else _char_shingle_strs

    def compute(texts) -> list:
        shingle_strs: list = []
        bounds = [0]
        for t in texts:
            if t is not None:
                shingle_strs.extend(mk(t, k_shingle))
            elif use_words:
                shingle_strs.append("")
            bounds.append(len(shingle_strs))
        hashes = hb(shingle_strs)
        out = []
        for t, lo, hi in zip(texts, bounds, bounds[1:]):
            if t is None and not use_words:
                out.append(null_char_sh)
            else:
                out.append(list(dict.fromkeys(hashes[lo:hi].tolist())))
        return out

    src = df.select(F.col(id_col), F.col(text_col).alias("__t"))
    schema = StructType([src.schema[id_col],
                         StructField("sh", ArrayType(LongType()))])

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame({id_col: pdf[id_col],
                                "sh": compute(list(pdf["__t"]))})

    return src.mapInPandas(gen, schema)


def minhash_text_bands(df: DataFrame, id_col: str, text_col: str,
                       k_shingle: int = 3, num_hashes: int = 128,
                       num_bands: int = 16, seed: int = 42,
                       use_words: bool = True,
                       hash_fn=poly_hash64) -> DataFrame:
    """(id, band, band_hash) via ONE mapInPandas over (id, text): the
    fused text→shingles→signature→banded-hash pipeline, replaying
    ``posexplode(_banded(minhash_signature(...)))`` bit for bit for
    poly_hash64 and (r11) the production-default xxhash64
    (pinned by test_minhash_fused_bands_match_expression and its
    xxhash64 twin).

    Replayed _banded semantics: band_size = size(sig)/num_bands in
    DOUBLE arithmetic, slice start = cast(i*band_size + 1 as int)
    (truncation), length = cast(band_size as int); elements cast long →
    string; concat_ws(",") skips NULL elements, so the all-NULL
    signature of a NULL text yields the SAME "" csv (and hash) for
    every band — those rows collide with each other and are later
    dropped by the NULL-jaccard verification filter, exactly as in the
    expression form. Band index is posexplode's position (int)."""
    import pandas as pd
    from pyspark.sql.types import (IntegerType, LongType, StructField,
                                   StructType)
    import numpy as np

    hb = _hash_batch_for(hash_fn, np)
    if hb is None:
        raise ValueError("no bit-equal batch replay for this hash_fn")
    # see minhash_text_signatures: the char-mode NULL-text shingle array
    # is [NULL] under poly_hash64 but [seed]=[42] under xxhash64
    null_char_sh = None if hash_fn is poly_hash64 else [42]
    sig_core = _minhash_sig_rows(num_hashes, seed)
    mk = _word_shingle_strs if use_words else _char_shingle_strs
    bs = num_hashes / num_bands           # Java double division
    starts = [int(i * bs + 1.0) - 1 for i in range(num_bands)]
    ln = int(bs)
    band_idx = list(range(num_bands))

    def compute(ids, texts):
        shingle_strs: list = []
        bounds = [0]
        for t in texts:
            if t is not None:
                shingle_strs.extend(mk(t, k_shingle))
            elif use_words:
                shingle_strs.append("")
            bounds.append(len(shingle_strs))
        hashes = hb(shingle_strs)
        arrays = []
        for t, lo, hi in zip(texts, bounds, bounds[1:]):
            if t is None and not use_words:
                arrays.append(null_char_sh)
            else:
                arrays.append(list(dict.fromkeys(hashes[lo:hi].tolist())))
        sigs = sig_core(arrays)
        csvs: list = []
        for sig in sigs:
            for i in band_idx:
                sl = sig[starts[i]:starts[i] + ln]
                csvs.append(",".join(str(v) for v in sl if v is not None))
        bhash = hb(csvs)
        n = len(ids)
        return pd.DataFrame({
            "__id": np.repeat(np.asarray(ids), num_bands),
            "band": np.tile(np.asarray(band_idx, dtype=np.int32), n),
            "band_hash": bhash,
        })

    src = df.select(F.col(id_col), F.col(text_col).alias("__t"))
    id_field = src.schema[id_col]
    schema = StructType([StructField(id_field.name, id_field.dataType),
                         StructField("band", IntegerType()),
                         StructField("band_hash", LongType())])

    def gen(batches):
        for pdf in batches:
            out = compute(list(pdf[id_col]), list(pdf["__t"]))
            out.columns = [id_field.name, "band", "band_hash"]
            yield out

    return src.mapInPandas(gen, schema)


def _band_self_join_pairs(bands: DataFrame, id_col: str) -> DataFrame:
    """Candidate (id_a < id_b) pairs from (id, band, band_hash) rows:
    repartition on the join key once so exchange reuse serves both
    self-join sides from one computed copy, then the streaming
    band-bucket equi-join + distinct (shared by minhash_lsh_candidates
    and the fused text pipeline)."""
    bands = bands.repartition("band", "band_hash")
    a = bands.select(F.col(id_col).alias("id_a"), "band", "band_hash")
    b = bands.select(F.col(id_col).alias("id_b"), "band", "band_hash")
    return (a.join(b, ["band", "band_hash"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())


def minhash_lsh_candidates(df: DataFrame, id_col: str, sig_col: str,
                           num_bands: int = 16,
                           hash_fn=F.xxhash64) -> DataFrame:
    """Candidate duplicate pairs (id_a < id_b) from band-bucket collisions.
    Shuffle key = (band index, band hash): uniform, small, skew-free."""
    bands = df.select(
        F.col(id_col),
        F.posexplode(_banded(F.col(sig_col), num_bands,
                             hash_fn)).alias("band", "band_hash"))
    # r10 opt (guide §2.1 remove-the-shuffle's cousin: remove the
    # duplicate subtree): hash-partition the band rows ON THE JOIN KEY
    # once before branching into the self-join sides. Both sides then
    # share one identical Exchange and Spark's ReuseExchange computes
    # the whole upstream (shingle -> signature -> band hash, all
    # interpreted HOFs) ONCE instead of once per side. Measured at
    # sf0.01 (min-of-3 warm, equality-checked): candidates stage
    # 29.5 -> 19.6 s, executed plan gains a ReusedExchange node. The
    # streaming self-join shape (scale-safe, no per-bucket pair
    # materialization) is unchanged.
    return _band_self_join_pairs(bands, id_col)


def _banded(sig: Column, num_bands: int, hash_fn=F.xxhash64) -> Column:
    """Split a signature array into num_bands band-hashes."""
    band_size = F.size(sig) / num_bands
    idx = F.sequence(F.lit(0), F.lit(num_bands - 1))
    return F.transform(
        idx, lambda i: hash_fn(F.concat_ws(
            ",", F.transform(F.slice(sig, (i * band_size + 1).cast("int"),
                                     band_size.cast("int")),
                             lambda v: v.cast("string")))))


def minhash_dedup_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k_shingle: int = 3,
                        num_hashes: int = 128, num_bands: int = 16,
                        jaccard_threshold: float = 0.8,
                        use_words: bool = True,
                        hash_fn=F.xxhash64) -> DataFrame:
    """End-to-end near-dup pairs: shingle → minhash → LSH candidates →
    exact-Jaccard verification of candidates only. Word shingles by
    default (char shingles saturate on small-vocabulary text)."""
    mk = word_shingles if use_words else char_shingles
    # r10 opt (guide §4.2): with poly_hash64 every interpreted stage of
    # the candidate pipeline — per-character shingle hashing, the
    # 128-hash signature, the 16 per-band csv hashes — runs in ONE
    # Arrow-batched numpy operator (minhash_text_bands), bit-identical
    # to the expression chain (pinned by tests). r11 adjudication: the
    # production-default xxhash64 pipeline was A/B-measured through the
    # same fused path (a bit-equal numpy XXH64 replay, _xxh64_batch,
    # exists and is test-pinned) and REJECTED — interleaved min-of-4 at
    # sf0.01: expression 0.96 s vs fused 1.16 s. With a native codegen
    # hash the expression path's only interpreted cost is the HOF
    # wrappers, which is cheaper than paying the Python boundary plus
    # per-row shingle-string construction (guide §1.2: the "ideal"
    # rewrite lost to the measured one). simhash DID win the same trade
    # (see simhash_near_dup_pairs — its aggregate form pays a 65-column
    # exchange the fused vote removes). Other hash_fns likewise keep
    # expression shingles/banding with the batched signature
    # min-reduction. The Column forms remain for expression contexts.
    fused = hash_fn is poly_hash64
    if fused:
        bands = minhash_text_bands(df, id_col, text_col, k_shingle,
                                   num_hashes, num_bands,
                                   use_words=use_words, hash_fn=hash_fn)
        cands = _band_self_join_pairs(bands, id_col)
    else:
        sh = df.select(F.col(id_col), mk(text_col, k_shingle,
                                         hash_fn=hash_fn).alias("sh"))
        sigs = minhash_signatures(sh, id_col, F.col("sh"), num_hashes)
        cands = minhash_lsh_candidates(sigs, id_col, "sig", num_bands,
                                       hash_fn)
    # r10 opt (guide §1.2/§3): shingle the VERIFICATION sides above the
    # candidate join, not below it. The old shape projected mk(text)
    # under the a/b branches, so every document was re-shingled (an
    # interpreted HOF pass) twice more even though only candidate rows
    # survive the join; verification cost scales with |candidates|
    # instead of 2×|corpus|, the right asymptote when banding is
    # selective. For poly_hash64 the candidate documents' shingle sets
    # are additionally computed ONCE per doc in the Arrow operator
    # (poly_shingle_arrays over the semi-joined candidate-doc set)
    # instead of per joined pair in interpreted walks — the join
    # condition and output projection otherwise each re-evaluate the
    # full shingle expression per pair.
    if fused:
        ids = (cands.select(F.col("id_a").alias(id_col))
               .union(cands.select(F.col("id_b").alias(id_col))).distinct())
        cand_docs = df.join(ids, id_col, "left_semi")
        shc = poly_shingle_arrays(cand_docs, id_col, text_col, k_shingle,
                                  use_words, hash_fn=hash_fn)
        a = shc.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
        b = shc.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
        joined = cands.join(a, "id_a").join(b, "id_b")
    else:
        a = df.select(F.col(id_col).alias("id_a"),
                      F.col(text_col).alias("t_a"))
        b = df.select(F.col(id_col).alias("id_b"),
                      F.col(text_col).alias("t_b"))
        joined = (cands.join(a, "id_a").join(b, "id_b")
                  .withColumn("sh_a", mk(F.col("t_a"), k_shingle,
                                         hash_fn=hash_fn))
                  .withColumn("sh_b", mk(F.col("t_b"), k_shingle,
                                         hash_fn=hash_fn)))
    verified = (joined
                .withColumn("jaccard", _jaccard(F.col("sh_a"), F.col("sh_b")))
                .filter(F.col("jaccard") >= jaccard_threshold)
                .select("id_a", "id_b", "jaccard"))
    return verified


def _jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    return inter.cast("double") / (F.size(a) + F.size(b) - inter)


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        threshold: float = 0.5,
                        use_words: bool = True) -> DataFrame:
    """Exact Jaccard similarity over k-gram shingle sets for all pairs
    above threshold, via explode + equi-join on shingle hash (no cross
    join): |A∩B| from join counts, |A|,|B| from per-doc sizes."""
    mk = word_shingles if use_words else char_shingles
    sh = df.select(F.col(id_col), mk(text_col, k).alias("sh"))
    # r10 opt (guide §2.1/§2.2): the old shape computed the shingle
    # array FOUR times — once per self-join side and once per size
    # lookup side. Now the exploded rows carry the doc's shingle-set
    # size (constant per doc, one extra long per row), the size joins
    # collapse into first() aggregates, and a repartition on the join
    # key before branching lets ReuseExchange serve both self-join
    # sides from ONE computed copy: 4 interpreted shingle passes -> 1.
    # A doc with NULL text never reaches the pair output in either
    # shape (its explode emits no rows / its inner size-join misses),
    # so results are row-identical.
    ex = sh.select(id_col, F.size("sh").alias("sz"),
                   F.explode("sh").alias("g"))
    ex = ex.repartition("g")
    a = ex.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"), "g")
    b = ex.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"), "g")
    inter = (a.join(b, "g").filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("n_inter"),
                  F.first("sz_a").alias("sz_a"),
                  F.first("sz_b").alias("sz_b")))
    return (inter
            .withColumn("jaccard", F.col("n_inter").cast("double")
                        / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def simhash(col: Column | str, hash_bits: int = 64,
            hash_fn=F.xxhash64) -> Column:
    """64-bit SimHash of whitespace tokens: per-bit vote of token hashes.
    bit_j(sig) = 1 iff Σ_tokens sign(bit_j(hash(tok))) > 0.
    Pure Column expressions, statically unrolled over bit positions
    (shift amounts must be Python ints in the pyspark API)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.trim(c), r"\s+")
    hashes = F.transform(toks, lambda t: hash_fn(t))
    n = F.size(hashes)
    sig = F.lit(0).cast("long")
    for j in range(hash_bits):
        ones = F.size(F.filter(
            hashes, lambda h: F.getbit(h, F.lit(j)) == 1))
        # bit 63 is the sign bit: its set-value is long MIN, not 1<<63
        bit_val = F.lit(-(1 << 63) if j == 63 else (1 << j)).cast("long")
        sig = sig.bitwiseOR(F.when(ones * 2 > n, bit_val)
                            .otherwise(F.lit(0).cast("long")))
    return sig


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (popcount of XOR)."""
    return F.bit_count(a.bitwiseXOR(b)).cast("int")


def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", hash_bits: int = 64,
                       hash_fn=F.xxhash64) -> DataFrame:
    """(id, sig) via explode + codegen'd bit-vote aggregation.

    r10 opt (guide §2.3 "aggregate before you shuffle" / §1.2): the
    ``simhash`` Column form references the token-hash array once per bit
    position, and higher-order functions are interpreted — each document
    paid ``hash_bits`` passes over its hashed tokens (and with an
    expensive ``hash_fn`` like poly_hash64, re-hashed every token per
    pass unless the engine CSEs it). This shape hashes each token ONCE
    on exploded rows, then aggregates the 64 bit-votes as codegen'd
    SUMs with map-side partial aggregation (the exchange ships one
    65-column row per document). Bit-identical to ``simhash``
    (equality-checked A/B, since deleted: signatures-only wall
    6.76 -> 1.86 s at sf0.01). The Column form stays for expression
    contexts; this is the DataFrame-scale path."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.split(F.trim(c), r"\s+")
    # explode_outer: a NULL text still yields one (null-token) row, so
    # the doc keeps its sig=0 exactly as the Column form computes it
    # (null votes take the otherwise-0 branch in both shapes)
    ex = df.select(F.col(id_col), F.explode_outer(toks).alias("__tok"))
    # NULL-propagate explicitly: xxhash64(NULL) is the seed (42), not
    # NULL, which would give a NULL-text doc a nonzero sig here while
    # the Column form's NULL array produces sig=0. A NULL hash makes
    # every vote SUM NULL, and `NULL*2 > n` takes the otherwise-0
    # branch — matching the Column form bit for bit.
    h = F.when(F.col("__tok").isNull(),
               F.lit(None).cast("long")).otherwise(hash_fn(F.col("__tok")))
    aggs = [F.sum(F.getbit(h, F.lit(j))).alias(f"__o{j}")
            for j in range(hash_bits)] + [F.count(F.lit(1)).alias("__n")]
    votes = ex.groupBy(id_col).agg(*aggs)
    sig = F.lit(0).cast("long")
    for j in range(hash_bits):
        # bit 63 is the sign bit: its set-value is long MIN, not 1<<63
        bit_val = F.lit(-(1 << 63) if j == 63 else (1 << j)).cast("long")
        sig = sig.bitwiseOR(
            F.when(F.col(f"__o{j}") * 2 > F.col("__n"), bit_val)
            .otherwise(F.lit(0).cast("long")))
    return votes.select(F.col(id_col), sig.alias("sig"))


def simhash_text_signatures(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", hash_bits: int = 64,
                            hash_fn=poly_hash64) -> DataFrame:
    """(id, sig) via ONE mapInPandas over (id, text): fused Arrow replay
    of ``simhash_signatures(..., hash_fn)`` (guide §4.2).

    Replays the exact pipeline: Java-\\s tokenization over the
    0x20-trimmed text (_word_shingle_strs semantics without windows),
    the exact hash per token (_poly_hash_batch, or — r11 — _xxh64_batch
    for the production-default xxhash64), then the per-bit majority
    vote — bit j of the signature is set iff ones*2 > n over the
    document's token hashes, with bit 63's set-value being long MIN.
    NULL text yields sig=0 (the expression form's NULL token array
    votes 0 on every bit); empty/whitespace-only text yields one ''
    token. Pinned by
    tests/test_functions.py::test_simhash_fused_matches_aggregate and
    its xxhash64 twin. (The aggregate form NULL-propagates only token
    NULLs, which _java_tokens never produces, so the replay is
    hash-agnostic.)"""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType
    import numpy as np

    hb = _hash_batch_for(hash_fn, np)
    if hb is None:
        raise ValueError("no bit-equal batch replay for this hash_fn")
    shifts = np.arange(hash_bits, dtype=np.uint64)
    one = np.uint64(1)
    wrap = 1 << hash_bits

    def compute(texts) -> list:
        toks: list = []
        bounds = [0]
        for t in texts:
            if t is not None:
                toks.extend(_java_tokens(t))
            bounds.append(len(toks))
        hashes = hb(toks).view(np.uint64)
        sigs = []
        for t, lo, hi in zip(texts, bounds, bounds[1:]):
            if t is None:
                sigs.append(0)
                continue
            seg = hashes[lo:hi]
            ones = ((seg[:, None] >> shifts) & one).sum(axis=0)
            sig = 0
            for j in np.flatnonzero(ones * 2 > (hi - lo)):
                sig |= 1 << int(j)
            sigs.append(sig - wrap if sig >= (wrap >> 1) else sig)
        return sigs

    src = df.select(F.col(id_col), F.col(text_col).alias("__t"))
    schema = StructType([src.schema[id_col],
                         StructField("sig", LongType())])

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame({id_col: pdf[id_col],
                                "sig": compute(list(pdf["__t"]))})

    return src.mapInPandas(gen, schema)


def simhash_near_dup_pairs(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           max_hamming: int = 3,
                           n_prefix_buckets: int = 4,
                           hash_fn=F.xxhash64) -> DataFrame:
    """Near-dup pairs by SimHash: bucket on 16-bit signature slices (a pair
    within hamming d must share at least one of 4 slices when d ≤ 3 —
    pigeonhole), then verify hamming distance within buckets."""
    # r10 opt (guide §4.2): with poly_hash64 the per-token interpreted
    # hash dominates — the fused Arrow operator computes the whole
    # text→token-hash→bit-vote signature in one mapInPandas,
    # bit-identical (pinned by test). r11: xxhash64 rides the same
    # fused operator via the bit-equal _xxh64_batch replay — its
    # exploded aggregate shape paid a 65-column exchange of bit-votes
    # plus the explode fan-out, which the one-pass numpy vote removes
    # (interleaved min-of-4 at sf0.01: 1.76 -> 0.46 s; output
    # equality-checked end-to-end in the same run). Other hash_fns
    # keep the exploded codegen'd aggregation.
    if hash_fn is poly_hash64 or hash_fn is F.xxhash64:
        sigs = simhash_text_signatures(df, text_col, id_col,
                                       hash_fn=hash_fn)
    else:
        sigs = simhash_signatures(df, text_col, id_col, hash_fn=hash_fn)
    slices = F.array(*[
        F.shiftright(F.col("sig"), i * 16).bitwiseAND(F.lit(0xFFFF))
        for i in range(n_prefix_buckets)])
    sliced = sigs.select(
        id_col, "sig",
        F.posexplode(slices).alias("slice_i", "slice_v"))
    # r10 opt: same ReuseExchange shape as minhash_lsh_candidates —
    # partition on the join key before branching so the signature
    # aggregation upstream is computed once, not per self-join side.
    sliced = sliced.repartition("slice_i", "slice_v")
    a = sliced.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"),
                      "slice_i", "slice_v")
    b = sliced.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"),
                      "slice_i", "slice_v")
    cands = (a.join(b, ["slice_i", "slice_v"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "sig_a", "sig_b").distinct())
    return (cands.withColumn("hamming", hamming64(F.col("sig_a"), F.col("sig_b")))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def duplicate_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iterations: int = 20) -> DataFrame:
    """Connected components over a near-duplicate pair graph — the step
    that turns pairwise dedup output into retention decisions (keep one
    doc per component). Returns (doc_id, cluster_id) with cluster_id =
    the minimum doc id reachable from doc_id.

    Algorithm: min-label propagation. Each iteration joins labels across
    edges and takes the per-node minimum; converges in O(diameter)
    rounds (dup clusters are shallow in practice). Every round is one
    shuffle on node id — no driver-side graph materialization, so this
    scales to billion-edge dedup graphs; the driver only checks a
    one-row convergence count per round."""
    edges = (pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
             .unionByName(pairs.select(F.col(id_b).alias("a"),
                                       F.col(id_a).alias("b")))
             .distinct())
    # r10 opt (guide §1.2): every propagation round joins against
    # `edges`, and without a materialization boundary each round
    # re-executed the ENTIRE upstream pair pipeline (shingle/LSH/
    # verify — twice, via the union) from the parquet scan. One eager
    # localCheckpoint pins the edge list (2x|pairs| digest-width rows,
    # executor-resident, per-invocation — same boundary the label
    # frames below already use), so iterations touch only edges+labels.
    edges = edges.localCheckpoint(eager=True)
    labels = (edges.select(F.col("a").alias("n")).distinct()
              .withColumn("label", F.col("n")))
    for _ in range(max_iterations):
        neighbor_min = (edges.join(labels, edges.b == labels.n)
                        .groupBy("a").agg(F.min("label").alias("nlabel")))
        new_labels = (labels.join(neighbor_min,
                                  labels.n == neighbor_min.a, "left")
                      .select(F.col("n"),
                              F.least(F.col("label"),
                                      F.coalesce(F.col("nlabel"),
                                                 F.col("label")))
                              .alias("label")))
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (new_labels.alias("x")
                   .join(labels.alias("y"), "n")
                   .filter(F.col("x.label") != F.col("y.label"))
                   .limit(1).count())
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("n").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


def contamination_flags(df: DataFrame, benchmark: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        k: int = 5, min_hits: int = 1) -> DataFrame:
    """Benchmark decontamination sweep: flag training documents sharing
    at least ``min_hits`` DISTINCT word k-grams with any benchmark
    document. The benchmark shingle set dedupes then broadcasts
    (benchmark suites are tiny next to a training corpus), so the
    corpus side is one scan + one broadcast semi-ish join + one groupBy
    — no shuffle of the corpus by gram."""
    sh = df.select(id_col, word_shingles(text_col, k).alias("sh"))
    ex = sh.select(id_col, F.explode("sh").alias("g"))
    bm = (benchmark.select(word_shingles(text_col, k).alias("sh"))
          .select(F.explode("sh").alias("g")).distinct())
    hits = (ex.join(F.broadcast(bm), "g")
            .groupBy(id_col)
            .agg(F.count_distinct("g").alias("n_contaminated_grams")))
    return (hits.filter(F.col("n_contaminated_grams") >= min_hits)
            .select(id_col,
                    F.col("n_contaminated_grams").cast("long")
                    .alias("n_contaminated_grams")))
