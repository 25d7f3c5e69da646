"""Deduplication suite for large-scale document pipelines.

These go beyond the reference's operator set (it has no text tooling): exact
dedup, character/shingle Jaccard near-dup, MinHash+LSH and SimHash — each
designed so the expensive comparison only happens inside candidate buckets
(band/bucket equi-joins), never as a global cross join, which is what
survives 10^12 documents.

Determinism: MinHash/SimHash permutations derive from xxhash64 with fixed
seeds (JVM-side, codegen); shingle sets use array built-ins. No Python in
any hot path except none at all — the whole suite is pyspark.sql.functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def bucket_pair_candidates(
    d: DataFrame,
    keys: list[str],
    id_col: str,
    *,
    payload: list[str] = (),
    cap: int = 1024,
    out_a: str = "doc_id_a",
    out_b: str = "doc_id_b",
) -> DataFrame:
    """Distinct unordered candidate pairs (out_a < out_b) of rows that share
    a bucket (equal values on `keys`), with HOT buckets triangle-chunked so
    no single task materializes a whole bucket's quadratic pair set.

    The naive `bucket.join(bucket, keys)` self-join hashes every pair of a
    bucket into ONE shuffle partition: a bucket of s rows emits s*(s-1)/2
    pairs in one task, which is the classic web-scale LSH failure (a hot
    band key — boilerplate/templated documents — serializes the whole job
    and can OOM a single executor). Here each bucket of size s is split
    into k = ceil(s/cap) chunks by a deterministic id hash; the k*(k+1)/2
    chunk-pair CELLS become independent join keys (keys + (i, j)), so the
    per-task pair volume is bounded by ~cap^2 and hot buckets fan out
    across the cluster. Output pair SET is identical to the naive join:
    a pair with chunks (ci, cj) meets in exactly the cell
    (min(ci,cj), max(ci,cj)); same-chunk pairs meet twice with swapped
    roles and collapse under the id-pair dedup. Payload columns ride along
    and are swapped together with the ids so `<payload>_a` always belongs
    to out_a.

    Replication cost: a row in a bucket of k chunks appears in k+1 cells
    total across the two sides — i.e. only hot buckets pay fan-out, rows
    in buckets <= cap are exploded exactly once per side (k = 1).
    """
    w = Window.partitionBy(*keys)
    k = F.greatest(F.lit(1), F.ceil(F.count(F.lit(1)).over(w) / F.lit(int(cap)))).cast("int")
    dd = d.withColumn("__wts_k", k).withColumn(
        "__wts_c",
        F.pmod(F.xxhash64(F.col(id_col), F.lit(1315423911)), F.col("__wts_k")).cast("int"),
    )
    # both join branches read dd: checkpoint so the bucket-size window (and
    # whatever upstream produced d) computes once, not once per branch
    dd = dd.localCheckpoint(eager=False)
    left = dd.select(
        F.col(id_col).alias("__wts_ia"),
        *[F.col(p).alias(f"__wts_pa_{p}") for p in payload],
        *keys,
        F.col("__wts_c").alias("__wts_i"),
        "__wts_k",
    ).withColumn("__wts_j", F.explode(F.sequence(F.col("__wts_i"), F.col("__wts_k") - 1)))
    right = dd.select(
        F.col(id_col).alias("__wts_ib"),
        *[F.col(p).alias(f"__wts_pb_{p}") for p in payload],
        *keys,
        F.col("__wts_c").alias("__wts_j"),
    ).withColumn("__wts_i", F.explode(F.sequence(F.lit(0), F.col("__wts_j"))))
    joined = (
        left.join(right, [*keys, "__wts_i", "__wts_j"])
        .filter(F.col("__wts_ia") != F.col("__wts_ib"))
    )
    swap = F.col("__wts_ia") > F.col("__wts_ib")
    cols = [
        F.when(swap, F.col("__wts_ib")).otherwise(F.col("__wts_ia")).alias(out_a),
        F.when(swap, F.col("__wts_ia")).otherwise(F.col("__wts_ib")).alias(out_b),
    ]
    for p in payload:
        cols.append(
            F.when(swap, F.col(f"__wts_pb_{p}")).otherwise(F.col(f"__wts_pa_{p}")).alias(f"{p}_a")
        )
        cols.append(
            F.when(swap, F.col(f"__wts_pa_{p}")).otherwise(F.col(f"__wts_pb_{p}")).alias(f"{p}_b")
        )
    return joined.select(*cols).dropDuplicates([out_a, out_b])


def exact_dedup(docs: DataFrame, *, text: str = "text", doc_id: str = "doc_id") -> DataFrame:
    """Keep the lowest doc_id per exact text; one hash aggregate.
    -> (doc_id, text, n_dups)."""
    return docs.groupBy(F.col(text).alias("text")).agg(
        F.min(F.col(doc_id)).alias("doc_id"),
        F.count(F.lit(1)).alias("n_dups"),
    ).select("doc_id", "text", "n_dups")


def shingles_expr(text_col, n: int = 3):
    """Distinct character n-gram array of a string column (built-ins only):
    substring(text, i, n) for i in 1..len-n+1."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(text_col) - F.lit(n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(text_col, i, n)))


# Engine-portable 60-bit hash: integer value of the first 15 hex chars of
# md5(x). Identical in Spark (conv) and DuckDB (hex-literal cast), which
# lets the full MinHash/SimHash pipelines run under the DuckDB oracle gate.
_PORTABLE64_SPARK = "cast(conv(substr(md5({x}),1,15),16,10) as bigint)"
_PORTABLE64_DUCK = "('0x'||substr(md5({x}),1,15))::BIGINT"
_P31 = 2147483647  # 2^31 - 1 (Mersenne prime): products stay inside int64


def _perm_consts(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) for the universal-hash permutations
    h_j(x) = (a_j*x + b_j) mod P31, derived from md5 so any engine that
    re-derives them gets identical literals."""
    import hashlib

    def h64(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    return [
        (h64(f"a:{j}") % (_P31 - 1) + 1, h64(f"b:{j}") % _P31)
        for j in range(num_hashes)
    ]


def _shingles_duck(text_expr: str, n: int = 3) -> str:
    """DuckDB mirror of shingles_expr: distinct character n-grams."""
    return (
        f"list_distinct([substr({text_expr}, i, {n}) "
        f"for i in range(1, greatest(length({text_expr}) - {n - 1}, 1) + 1)])"
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    text: str = "text",
    doc_id: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    banded: bool = True,
    method: str | None = None,
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard >= threshold.

    method='prefix' (the 100-TB scale path): PPJoin-style prefix filtering
    (Xiao, Wang, Lin & Yu, WWW'08 / Chaudhuri, Ganti & Kaushik, ICDE'06).
    A global total order on shingles by (corpus document-frequency asc,
    shingle asc) ranks rare shingles first; each doc indexes only its first
    p = |A| - ceil(t*|A|) + 1 shingles in that order. Any pair with
    J(A,B) >= t MUST share an indexed shingle: the required overlap is
    alpha = ceil(t*max(|A|,|B|)), and the classic prefix lemma says records
    with |A/\\B| >= alpha share a token inside prefixes of length
    |X| - alpha + 1 <= p(X). Candidate volume is sum(df_p(w)^2) over
    PREFIX-indexed tokens only — rare-token indexing makes this near-linear
    on real corpora (the frequent shingles that would explode the join are
    exactly the ones the prefix skips). Worst case remains quadratic (a
    corpus of identical docs has quadratically many TRUE pairs — inherent
    to exact output, not to the algorithm).

    method='banded': length-banding — J >= t implies t <= |A|/|B| <= 1/t,
    so banding on floor(log(sz)/log(1/t)) and exploding one side to
    {band-1, band, band+1} is exact-complete with a 3x join-KEY fan-out.
    NOTE the join OUTPUT is sum(|band|^2): real corpora concentrate doc
    lengths into few bands, so this path degrades toward quadratic
    candidates at scale. Kept as the simple mid-scale path and as a second
    independent formulation for tests; route 100-TB traffic to 'prefix'
    (or to minhash_lsh for approximate recall).

    method='allpairs' is the O(n^2) oracle path. `banded` (bool) is the
    legacy switch between 'banded' and 'allpairs'; `method` wins when set.
    -> (doc_id_a, doc_id_b, jaccard).
    """
    import math

    if method is None:
        method = "banded" if banded else "allpairs"
    if method not in ("prefix", "banded", "allpairs"):
        raise ValueError(f"unknown method {method!r}")
    d = docs.select(
        F.col(doc_id).alias("id"),
        shingles_expr(F.col(text), n).alias("sh"),
    ).withColumn("sz", F.size("sh"))
    if method == "prefix":
        tok = d.select("id", F.explode("sh").alias("tok"))
        freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
        # Per-doc shingles in global (df asc, tok asc) order; index the
        # first sz - ceil(t*sz) + 1 of them. array_sort on (df, tok)
        # structs is the total order; all JVM-side.
        plen = (
            F.col("sz")
            - F.ceil(F.lit(float(threshold)) * F.col("sz")).cast("int")
            + F.lit(1)
        )
        prefix = (
            tok.join(freq, "tok")
            .groupBy("id")
            .agg(F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("ordered"))
            .join(d.select("id", "sz"), "id")
            .select(
                "id",
                F.explode(
                    F.slice(
                        F.transform("ordered", lambda s: s["tok"]), F.lit(1), plen
                    )
                ).alias("tok"),
            )
        )
        # triangle-chunked self-join (see bucket_pair_candidates): even a
        # RARE token's posting list can be hot on a templated corpus
        cand = bucket_pair_candidates(prefix, ["tok"], "id")
        pairs = (
            cand.join(
                d.select(
                    F.col("id").alias("doc_id_a"),
                    F.col("sh").alias("sh_a"),
                    F.col("sz").alias("sz_a"),
                ),
                "doc_id_a",
            )
            .join(
                d.select(
                    F.col("id").alias("doc_id_b"),
                    F.col("sh").alias("sh_b"),
                    F.col("sz").alias("sz_b"),
                ),
                "doc_id_b",
            )
            .filter(
                (F.col("sz_b") >= F.lit(threshold) * F.col("sz_a"))
                & (F.col("sz_a") >= F.lit(threshold) * F.col("sz_b"))
            )
        )
    elif method == "banded":
        if threshold >= 1.0:
            # J = 1 requires equal set sizes: band on the size itself
            band = F.col("sz").cast("double")
        else:
            band = F.floor(
                F.log(F.col("sz").cast("double")) / F.lit(math.log(1.0 / threshold))
            ).cast("double")
        d = d.withColumn("band", band)
        a = d.select(
            F.col("id").alias("doc_id_a"), F.col("sh").alias("sh_a"),
            F.col("sz").alias("sz_a"), F.col("band"),
        ).withColumn(
            "band",
            F.explode(F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1)),
        )
        b = d.select(
            F.col("id").alias("doc_id_b"), F.col("sh").alias("sh_b"),
            F.col("sz").alias("sz_b"), F.col("band"),
        )
        pairs = (
            a.join(b, "band")
            .filter(F.col("doc_id_a") < F.col("doc_id_b"))
            # necessary size-ratio bound: min/max >= J >= t
            .filter(
                (F.col("sz_b") >= F.lit(threshold) * F.col("sz_a"))
                & (F.col("sz_a") >= F.lit(threshold) * F.col("sz_b"))
            )
        )
    else:
        a = d.select(F.col("id").alias("doc_id_a"), F.col("sh").alias("sh_a"))
        b = d.select(F.col("id").alias("doc_id_b"), F.col("sh").alias("sh_b"))
        pairs = a.crossJoin(b).filter(F.col("doc_id_a") < F.col("doc_id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
        .distinct()
    )


def minhash_signatures(
    docs: DataFrame,
    *,
    text: str = "text",
    doc_id: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    hash_family: str = "xxhash64",
    repartition: bool = True,
) -> DataFrame:
    """MinHash signature per doc: for each of num_hashes seeded hash
    functions, the min hash over the shingle set. All JVM built-ins.
    -> (doc_id, sig: array<bigint>). repartition=False skips the
    partition-count probe (required for streaming DataFrames, where .rdd
    is unsupported and the micro-batch planner owns parallelism).

    hash_family:
      - "xxhash64" (default): fastest, JVM codegen — the production path.
      - "md5": engine-portable — shingle -> first 15 hex chars of md5 as a
        60-bit int, permutations as (a_j*x + b_j) mod (2^31-1) with
        hashlib-derived literal constants. Identical in any engine with
        md5() (DuckDB mirrors it in minhash_lsh_oracle_sql), which turns
        the whole MinHash+LSH pipeline into a hash-checkable query.

    Cost shape: each STRING shingle is hashed exactly once
    (xxhash64(string)); the num_hashes permutations re-hash that 64-bit
    integer (xxhash64(long, seed)) — hashing a fixed-width long is ~10x
    cheaper than re-hashing variable-length strings per permutation, so
    signature cost is O(shingles + shingles*num_hashes*cheap) instead of
    O(shingles*num_hashes*strlen).

    IMPORTANT — Spark HOF pitfall: `F.xxhash64(lambda_var, F.lit(seed))`
    built through the PYTHON wrapper silently ignores the lambda
    variable's VALUE inside transform() (position-dependent output only;
    seeds beyond the first are ignored too) on PySpark 4.1.x. The
    SQL-parsed form `expr("transform(hs, h -> xxhash64(h, i))")` is
    correct, so the seeded re-hash is built via F.expr; a regression test
    (test_minhash_signature_value_dependence) pins this."""
    if repartition:
        spark = docs.sparkSession
        par = spark.sparkContext.defaultParallelism
        if docs.rdd.getNumPartitions() < par:
            # signature hashing is the CPU-heavy stage (shingles x
            # num_hashes integer hashes per doc); a small file count must
            # not serialize it
            docs = docs.repartition(par)
    if hash_family == "md5":
        d = docs.select(
            F.col(doc_id).alias("doc_id"), shingles_expr(F.col(text), n).alias("__mh_sh")
        ).withColumn(
            "__mh_hs",
            F.expr(f"transform(__mh_sh, s -> {_PORTABLE64_SPARK.format(x='s')} % {_P31}L)"),
        )
        sig = F.array(
            *[
                F.expr(f"array_min(transform(__mh_hs, x -> ({a}L * x + {b}L) % {_P31}L))")
                for a, b in _perm_consts(num_hashes)
            ]
        )
        return d.select("doc_id", sig.alias("sig"))
    base = F.transform(shingles_expr(F.col(text), n), lambda s: F.xxhash64(s))
    d = docs.select(F.col(doc_id).alias("doc_id"), base.alias("__mh_hs"))
    sig = F.array(
        *[
            F.expr(f"array_min(transform(__mh_hs, h -> xxhash64(h, {i})))")
            for i in range(num_hashes)
        ]
    )
    return d.select("doc_id", sig.alias("sig"))


def minhash_lsh_pairs(
    docs: DataFrame,
    *,
    text: str = "text",
    doc_id: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    verify_threshold: float | None = 0.5,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash + LSH banding: docs sharing any band bucket become candidate
    pairs; optionally verified by estimated Jaccard (signature agreement).
    Shuffle cost is O(docs x bands), never quadratic. -> (doc_id_a,
    doc_id_b, est_jaccard). hash_family as in minhash_signatures; "md5"
    additionally makes the band keys portable (md5 of the joined band
    slice) so the whole pipeline is oracle-checkable."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(
        docs, text=text, doc_id=doc_id, n=n, num_hashes=num_hashes, hash_family=hash_family
    )

    def band_key(b: int):
        lo, hi = b * rows_per_band, (b + 1) * rows_per_band
        if hash_family == "md5":
            parts = ", ".join(f"cast(sig[{i}] as string)" for i in range(lo, hi))
            return F.expr(f"md5(concat_ws(',', {parts}))")
        return F.xxhash64(*[F.col("sig")[i] for i in range(lo, hi)])

    # band rows carry ONLY (doc_id, band key): the 64-element signature
    # array (~520 B) stays out of the bucket self-join's exchange (~16x
    # less shuffle at bands=16); candidate pairs resolve their signatures
    # afterwards with two doc_id equi-joins against the docs-sized sig
    # table (AQE picks broadcast when it fits). sigs is referenced three
    # times — checkpoint it so the CPU-heavy shingle hashing runs once.
    sigs = sigs.localCheckpoint(eager=False)
    banded = sigs.withColumn(
        "band",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("b"), band_key(b).alias("h"))
                    for b in range(bands)
                ]
            )
        ),
    ).select("doc_id", "band.b", "band.h")
    # triangle-chunked self-join: hot band buckets (templated/boilerplate
    # corpora) fan their quadratic pair cells across tasks instead of
    # hashing a whole bucket's pairs into one shuffle partition; also
    # dedupes multi-band collisions on the ids alone
    cand = bucket_pair_candidates(banded, ["b", "h"], "doc_id")
    pairs = (
        cand.join(
            sigs.select(F.col("doc_id").alias("doc_id_a"), F.col("sig").alias("sig_a")),
            ["doc_id_a"],
        )
        .join(
            sigs.select(F.col("doc_id").alias("doc_id_b"), F.col("sig").alias("sig_b")),
            ["doc_id_b"],
        )
        .select("doc_id_a", "doc_id_b", "sig_a", "sig_b")
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        ).cast("double")
        / num_hashes
    )
    out = pairs.withColumn("est_jaccard", est).select("doc_id_a", "doc_id_b", "est_jaccard")
    if verify_threshold is not None:
        out = out.filter(F.col("est_jaccard") >= verify_threshold)
    return out


def minhash_lsh_oracle_sql(
    docs_sql: str,
    *,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    verify_threshold: float = 0.5,
) -> str:
    """DuckDB mirror of minhash_lsh_pairs(hash_family="md5") — the exact
    same md5-derived shingle hashes, permutation constants, band keys and
    signature-agreement estimate, so the driver can hash-compare the full
    MinHash+LSH pipeline."""
    rows_per_band = num_hashes // bands
    consts = _perm_consts(num_hashes)
    port = _PORTABLE64_DUCK.format(x="s")
    sig_cols = ",\n  ".join(
        f"list_min(list_transform(xs, x -> ({a} * x + {b}) % {_P31})) AS s{j}"
        for j, (a, b) in enumerate(consts)
    )
    key_cols = ",\n  ".join(
        "md5(concat_ws(',', "
        + ", ".join(
            f"s{i}::VARCHAR" for i in range(b * rows_per_band, (b + 1) * rows_per_band)
        )
        + f")) AS k{b}"
        for b in range(bands)
    )
    key_case = " ".join(f"WHEN {b} THEN k{b}" for b in range(bands))
    matches = " + ".join(
        f"CASE WHEN sa.s{j} = sb.s{j} THEN 1 ELSE 0 END" for j in range(num_hashes)
    )
    return f"""
WITH d AS (SELECT doc_id, {_shingles_duck('text', n)} AS sh FROM ({docs_sql})),
hs AS (SELECT doc_id, list_transform(sh, s -> {port} % {_P31}) AS xs FROM d),
sig AS (SELECT doc_id,
  {sig_cols}
  FROM hs),
keyed AS (SELECT doc_id,
  {key_cols}
  FROM sig),
banded AS (
  SELECT doc_id, t.b, CASE t.b {key_case} END AS h
  FROM keyed CROSS JOIN (SELECT unnest(range(0, {bands})) AS b) t
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM banded a JOIN banded b ON a.b = b.b AND a.h = b.h AND a.doc_id < b.doc_id
)
SELECT c.doc_id_a, c.doc_id_b, ({matches})::DOUBLE / {num_hashes} AS est_jaccard
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_id_a
JOIN sig sb ON sb.doc_id = c.doc_id_b
WHERE ({matches})::DOUBLE / {num_hashes} >= {verify_threshold}
"""


def simhash_table(
    docs: DataFrame,
    *,
    text: str = "text",
    doc_id: str = "doc_id",
    bits: int = 64,
    n: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per doc over shingle xxhash64s, built-ins only.
    hash_family="md5" switches to the portable 60-bit md5-prefix hash
    (use bits=60 with it) so DuckDB can mirror the table.

    Per bit b the sign of sum(+/-1) over shingles is computed as one grouped
    aggregate: explode distinct shingles -> hash -> 64 sums of
    (hash >> b) & 1; bit set iff ones*2 >= n_shingles. (Bit ops on lambda
    variables are not supported by the pyspark function wrappers, hence the
    explode+groupBy formulation — still one shuffle, JVM-side.)
    -> (doc_id, sh: bigint)
    """
    hash_col = (
        F.expr(_PORTABLE64_SPARK.format(x="g")) if hash_family == "md5" else F.xxhash64("g")
    )
    g = docs.select(
        F.col(doc_id).alias("doc_id"),
        F.explode(shingles_expr(F.col(text), n)).alias("g"),
    ).withColumn("h", hash_col)
    aggs = [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"_b{b}")
        for b in range(bits)
    ]
    per = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_n"), *aggs)
    sim = F.lit(0).cast("long")
    for b in range(bits):
        bit = F.when(F.col(f"_b{b}") * 2 >= F.col("_n"), F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = sim + F.shiftleft(bit, b)
    return per.select("doc_id", sim.alias("sh"))


def _simhash_bands(bits: int, B: int) -> tuple[list[int], list[int]]:
    widths = [bits // B + (1 if i < bits % B else 0) for i in range(B)]
    return widths, [sum(widths[:i]) for i in range(B)]


def simhash_near_dup_pairs(
    docs: DataFrame,
    *,
    text: str = "text",
    doc_id: str = "doc_id",
    max_hamming: int = 3,
    n: int = 3,
    bands: int | None = None,
    bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dups: band the 64-bit simhash into B contiguous bit
    chunks (pigeonhole: hamming <= B-1 implies at least one identical
    band), join per band, verify exact hamming distance. B defaults to
    max(4, max_hamming + 1) so recall is complete for ANY max_hamming —
    with fewer bands than max_hamming + 1 the differing bits could spread
    across every band and qualifying pairs would be silently missed.
    -> (doc_id_a, doc_id_b, hamming)."""
    B = bands if bands is not None else max(4, max_hamming + 1)
    if B <= max_hamming:
        raise ValueError(
            f"bands={B} cannot guarantee recall for max_hamming={max_hamming}; "
            "pigeonhole requires bands > max_hamming"
        )
    if B > bits:
        raise ValueError(f"bands cannot exceed bits={bits} (one bit per band)")
    # near-equal bit widths: first (bits % B) bands get one extra bit
    widths, starts = _simhash_bands(bits, B)
    d = simhash_table(docs, text=text, doc_id=doc_id, n=n, bits=bits, hash_family=hash_family)
    banded = d.withColumn(
        "band",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.shiftright(F.col("sh"), starts[b])
                        .bitwiseAND(F.lit((1 << widths[b]) - 1))
                        .alias("k"),
                    )
                    for b in range(B)
                ]
            )
        ),
    ).select("doc_id", "sh", "band.b", "band.k")
    # triangle-chunked self-join (see bucket_pair_candidates): hot simhash
    # band buckets fan out across tasks; hamming is symmetric so payload
    # orientation is irrelevant, but sh_a/sh_b still track doc_id_a/doc_id_b
    pairs = bucket_pair_candidates(banded, ["b", "k"], "doc_id", payload=["sh"])
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_id_a", "doc_id_b", "hamming")
    )


def simhash_near_dup_oracle_sql(
    docs_sql: str,
    *,
    max_hamming: int = 6,
    n: int = 3,
    bits: int = 60,
    bands: int | None = None,
) -> str:
    """DuckDB mirror of simhash_near_dup_pairs(hash_family="md5", bits=60):
    same portable shingle hash, same per-bit majority vote, same band
    widths, same pigeonhole join + exact hamming verify."""
    B = bands if bands is not None else max(4, max_hamming + 1)
    widths, starts = _simhash_bands(bits, B)
    port = _PORTABLE64_DUCK.format(x="s")
    bit_sums = ",\n  ".join(
        f"sum((h >> {b}) & 1) AS b{b}" for b in range(bits)
    )
    sim = " + ".join(
        f"(CASE WHEN 2 * b{b} >= n THEN 1::BIGINT ELSE 0::BIGINT END << {b})"
        for b in range(bits)
    )
    key_case = " ".join(
        f"WHEN {i} THEN (sh >> {starts[i]}) & {(1 << widths[i]) - 1}" for i in range(B)
    )
    return f"""
WITH g AS (
  SELECT doc_id, unnest({_shingles_duck('text', n)}) AS s FROM ({docs_sql})
),
h AS (SELECT doc_id, {port} AS h FROM g),
per AS (SELECT doc_id, count(*) AS n,
  {bit_sums}
  FROM h GROUP BY doc_id),
sim AS (SELECT doc_id, ({sim}) AS sh FROM per),
banded AS (
  SELECT doc_id, sh, t.b, CASE t.b {key_case} END AS k
  FROM sim CROSS JOIN (SELECT unnest(range(0, {B})) AS b) t
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         a.sh AS sh_a, b.sh AS sh_b
  FROM banded a JOIN banded b ON a.b = b.b AND a.k = b.k AND a.doc_id < b.doc_id
)
SELECT doc_id_a, doc_id_b, bit_count(xor(sh_a, sh_b)) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}
"""


def near_dup_components(pairs: DataFrame, *, a: str = "doc_id_a", b: str = "doc_id_b") -> DataFrame:
    """Connected components over a near-dup pair graph: -> (doc_id,
    component) for every doc that appears in at least one pair, where
    `component` is the MINIMUM doc id reachable through pair edges
    (including the doc itself) — the canonical cluster representative.

    This is the transitive closure `dedup_keep_first` deliberately skips:
    near-dup relations chain (A~B, B~C with A!~C), and keep-one-per-CLUSTER
    is what production dedup needs, not keep-one-per-edge.

    Spark shape: min-label propagation with a pointer-doubling shortcut
    (lab <- min(lab, lab[lab])), the same O(log diameter) idiom as the
    raster clump operator — every round is a pair of equi-joins on the
    deduped edge list, no collect. Near-dup clusters are dense (band
    collisions make them near-cliques), so convergence is typically 2-3
    rounds regardless of cluster size."""
    from whitebox_tools_spark.distributed import loop_checkpoint

    e = pairs.select(F.col(a).alias("a"), F.col(b).alias("b")).distinct()
    und = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .localCheckpoint(eager=True)
    )
    lab = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lab"))
        .localCheckpoint(eager=True)
    )
    for _ in range(64):
        prop = (
            und.join(lab, und["a"] == lab["node"])
            .select(F.col("b").alias("node"), "lab")
            .groupBy("node")
            .agg(F.min("lab").alias("nlab"))
        )
        relaxed = lab.join(prop, "node", "left").select(
            "node", F.least(F.col("lab"), F.coalesce("nlab", F.col("lab"))).alias("lab")
        )
        short = (
            relaxed.alias("x")
            .join(relaxed.alias("y"), F.col("x.lab") == F.col("y.node"), "left")
            .select(
                F.col("x.node").alias("node"),
                F.least(
                    F.col("x.lab"), F.coalesce(F.col("y.lab"), F.col("x.lab"))
                ).alias("l2"),
            )
        )
        nxt = lab.select("node", F.col("lab").alias("l1")).join(short, "node")
        done = nxt.filter(F.col("l2") != F.col("l1")).limit(1).isEmpty()
        lab = nxt.select("node", F.col("l2").alias("lab")).transform(loop_checkpoint)
        if done:
            break
    return lab.select(F.col("node").alias("doc_id"), F.col("lab").alias("component"))


def near_dup_components_oracle_sql(pairs_sql: str) -> str:
    """DuckDB mirror of near_dup_components + component sizes over any pair
    query exposing (doc_id_a, doc_id_b): recursive transitive closure,
    component = min reachable id (including self).
    -> (doc_id, component, csize)."""
    return f"""
WITH RECURSIVE p AS (SELECT doc_id_a, doc_id_b FROM ({pairs_sql})),
und AS (
  SELECT doc_id_a AS a, doc_id_b AS b FROM p
  UNION
  SELECT doc_id_b AS a, doc_id_a AS b FROM p
),
reach(n, m) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.n, u.b FROM reach r JOIN und u ON u.a = r.m
),
comp AS (
  SELECT n AS doc_id, least(n, min(m)) AS component FROM reach GROUP BY n
)
SELECT c.doc_id, c.component, s.csize
FROM comp c
JOIN (SELECT component, count(*) AS csize FROM comp GROUP BY component) s
  ON s.component = c.component
"""


def dedup_keep_min_per_component(
    docs: DataFrame, pairs: DataFrame, *, doc_id: str = "doc_id"
) -> DataFrame:
    """Transitive near-dup dedup: keep exactly one doc (the minimum id) per
    connected component of the pair graph; docs in no pair survive."""
    comp = near_dup_components(pairs)
    losers = comp.filter(F.col("doc_id") != F.col("component")).select(
        F.col("doc_id").alias(doc_id)
    )
    return docs.join(losers, doc_id, "left_anti")


def dedup_keep_first(docs: DataFrame, pairs: DataFrame, *, doc_id: str = "doc_id") -> DataFrame:
    """Given near-dup pairs, drop every doc that appears as the larger id of
    a pair (keep-lowest-id policy; transitive chains collapse to the
    smallest reachable id only across one hop — exact CC is the clump
    operator's job)."""
    losers = pairs.select(F.col("doc_id_b").alias(doc_id)).distinct()
    return docs.join(losers, doc_id, "left_anti")


def duplicate_text_spans(
    docs: DataFrame,
    *,
    k: int = 8,
    min_len: int = 10,
    cap: int = 1024,
    text: str = "text",
    doc_id: str = "doc_id",
) -> DataFrame:
    """Exact duplicate-SPAN detection (substring-level dedup, the
    suffix-array family of training-data cleaning — Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): maximal
    runs of >= min_len consecutive tokens shared verbatim between two
    documents, found without any suffix array.

    Construction: tokenize on single spaces, emit every k-token gram with
    its 1-based position, route the gram-equality self-join through
    bucket_pair_candidates keyed on the gram STRING with per-OCCURRENCE
    ids (hot grams — boilerplate — triangle-chunk instead of hashing a
    whole gram's quadratic pair set into one task; the pair SET stays
    exact). Matching occurrence pairs of docs a < b lie on diagonal
    pos_a - pos_b; consecutive positions on one diagonal are one shared
    run, merged by the island trick (pos_a - row_number over the diagonal)
    and emitted as (a_start, b_start, span_len = max-min+k). A maximal
    shared run of L >= k tokens yields exactly the L-k+1 consecutive gram
    matches of its diagonal, so the island reconstructs L exactly; runs
    shorter than k tokens produce no gram match and are (by design)
    invisible — k is the detection floor, min_len the report floor.

    Within-doc repeats are excluded (doc_id_a < doc_id_b strictly); a
    span repeated at multiple offsets lands on multiple diagonals, one
    output row each, which is the honest multiset answer.

    100-TB shape: one shuffle to count gram populations (window in
    bucket_pair_candidates), one chunked equi-join on the gram, one
    window + aggregate per (pair, diagonal) — no all-pairs stage, no UDF,
    no driver collect. Token positions are bounded to 2^22 per document
    by the occurrence-id encoding (doc_id * 2^22 + pos must fit a long).
    -> (doc_id_a, doc_id_b, a_start, b_start, span_len), positions and
    lengths in 1-based token units."""
    n = F.size(F.col("__t"))
    toks = docs.select(
        F.col(doc_id).alias("__d"), F.split(F.col(text), " ").alias("__t")
    )
    occ = (
        toks.filter(n >= k)
        .select(
            "__d",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), n - F.lit(k - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.array_join(
                            F.slice(F.col("__t"), i, k), " "
                        ).alias("g"),
                    ),
                )
            ).alias("o"),
        )
        .select(
            "__d",
            F.col("o.pos").alias("pos"),
            F.col("o.g").alias("g"),
            (F.col("__d") * F.lit(1 << 22) + F.col("o.pos")).alias("occ"),
        )
    )
    pairs = bucket_pair_candidates(
        occ, ["g"], "occ", payload=["__d", "pos"], cap=cap,
        out_a="occ_a", out_b="occ_b",
    ).filter(F.col("__d_a") < F.col("__d_b"))
    diag = (F.col("pos_a") - F.col("pos_b")).alias("diag")
    w = Window.partitionBy("doc_id_a", "doc_id_b", "diag").orderBy("pos_a")
    isl = pairs.select(
        F.col("__d_a").alias("doc_id_a"),
        F.col("__d_b").alias("doc_id_b"),
        "pos_a", "pos_b", diag,
    ).withColumn("island", F.col("pos_a") - F.row_number().over(w))
    return (
        isl.groupBy("doc_id_a", "doc_id_b", "diag", "island")
        .agg(
            F.min("pos_a").alias("a_start"),
            F.min("pos_b").alias("b_start"),
            (F.max("pos_a") - F.min("pos_a") + F.lit(k)).alias("span_len"),
        )
        .filter(F.col("span_len") >= min_len)
        .select("doc_id_a", "doc_id_b", "a_start", "b_start", "span_len")
    )


def duplicate_text_spans_oracle_sql(
    docs_rel: str, *, k: int = 8, min_len: int = 10
) -> str:
    """DuckDB mirror of duplicate_text_spans: same tokenization
    (string_split on a single space), same gram/diagonal/island
    construction, naive pair join (the oracle does not need chunking)."""
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM {docs_rel}
), grams AS (
  SELECT doc_id, u.i AS pos, array_to_string(t[u.i:u.i+{k}-1], ' ') AS g
  FROM toks, unnest(range(1, greatest(len(t) - {k} + 2, 1))) u(i)
), pairs AS (
  SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
), isl AS (
  SELECT da, db, pa, pb, pa - pb AS diag,
         pa - row_number() OVER (PARTITION BY da, db, pa - pb ORDER BY pa) AS island
  FROM pairs
)
SELECT da AS doc_id_a, db AS doc_id_b,
       CAST(min(pa) AS INT) AS a_start, CAST(min(pb) AS INT) AS b_start,
       CAST(max(pa) - min(pa) + {k} AS INT) AS span_len
FROM isl GROUP BY da, db, diag, island
HAVING max(pa) - min(pa) + {k} >= {min_len}
"""


def contamination_check(
    train: DataFrame,
    eval_docs: DataFrame,
    *,
    k: int = 8,
    broadcast_eval: bool = True,
    text: str = "text",
    doc_id: str = "doc_id",
) -> DataFrame:
    """Test-set contamination scan (the decontamination pass of LLM
    training pipelines — GPT-3 appendix C / PaLM style): a training
    document is contaminated to the degree its k-token grams appear
    anywhere in the evaluation set.

    Per train doc: the DISTINCT k-gram set, the subset also present in
    the union of eval-doc k-grams (left-semi equi-join on the gram
    string), and their ratio. Documents with fewer than k tokens have no
    grams and are omitted. broadcast_eval=True broadcasts the distinct
    eval gram set — eval suites are thousands of docs against billions of
    train docs, so the map-side semi-join removes the train-side shuffle
    entirely; flip it off if the eval side ever outgrows the broadcast
    budget and the join falls back to a hash shuffle on the gram.
    -> (doc_id, n_grams, n_contaminated, contamination) with
    contamination rounded to 6 dp (signed-zero normalized)."""

    def _grams(d):
        t = F.split(F.col(text), " ")
        n = F.size(t)
        return d.filter(n >= k).select(
            F.col(doc_id).alias("__d"),
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), n - F.lit(k - 1)),
                        lambda i: F.array_join(F.slice(t, i, k), " "),
                    )
                )
            ).alias("g"),
        )

    tg = _grams(train)
    eg = _grams(eval_docs).select("g").distinct()
    if broadcast_eval:
        eg = F.broadcast(eg)
    hits = tg.join(eg, "g", "left_semi").groupBy("__d").agg(
        F.count(F.lit(1)).alias("n_contaminated")
    )
    return (
        tg.groupBy("__d")
        .agg(F.count(F.lit(1)).alias("n_grams"))
        .join(hits, "__d", "left")
        .select(
            F.col("__d").alias(doc_id),
            "n_grams",
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            (
                F.round(
                    F.coalesce("n_contaminated", F.lit(0))
                    / F.col("n_grams"),
                    6,
                )
                + F.lit(0.0)
            ).alias("contamination"),
        )
    )


def contamination_check_oracle_sql(
    train_rel: str, eval_rel: str, *, k: int = 8
) -> str:
    """DuckDB mirror of contamination_check (same tokenization, distinct
    k-gram sets, semi-join on the gram string)."""
    grams = (
        "SELECT doc_id, DISTINCT_G.g FROM ({rel}) r, LATERAL ("
        "  SELECT DISTINCT array_to_string(t[u.i:u.i+{k}-1], ' ') AS g"
        "  FROM (SELECT string_split(r.text, ' ') AS t) s,"
        "       unnest(range(1, greatest(len(t) - {k} + 2, 1))) u(i)"
        ") DISTINCT_G"
    )
    tg = grams.format(rel=train_rel, k=k)
    eg = grams.format(rel=eval_rel, k=k)
    return f"""
WITH tg AS ({tg}), eg AS (SELECT DISTINCT g FROM ({eg})),
hits AS (
  SELECT doc_id, count(*) AS n_contaminated
  FROM tg WHERE g IN (SELECT g FROM eg) GROUP BY doc_id
),
tot AS (SELECT doc_id, count(*) AS n_grams FROM tg GROUP BY doc_id)
SELECT tot.doc_id,
       tot.n_grams,
       coalesce(hits.n_contaminated, 0) AS n_contaminated,
       round(CAST(coalesce(hits.n_contaminated, 0) AS DOUBLE) / tot.n_grams, 6) + 0.0
         AS contamination
FROM tot LEFT JOIN hits ON tot.doc_id = hits.doc_id
"""


def stratified_sample(
    docs: DataFrame,
    fractions: dict[str, float],
    *,
    strat: str = "source",
    doc_id: str = "doc_id",
    seed: int = 7,
    default: float = 0.0,
) -> DataFrame:
    """Deterministic stratified (quota) sampling — the domain-mixing step
    of training-data pipelines: keep a document iff
    portable_hash60(doc_id, seed) < floor(fraction(stratum) * 2^60).

    Selection is a pure function of (doc_id, seed): re-running the job, on
    any cluster size or partitioning, picks the SAME documents (no RNG
    state, unlike df.sample), so mixtures are auditable and resumable, and
    raising a stratum's fraction strictly grows its sample (nested
    samples: the kept set at 10% is a subset of the kept set at 20%) —
    the property that lets mixture weights be tuned without re-shuffling
    history. The fraction map compiles to a CASE literal (strata counts
    are pipeline-config sized), so the whole operator is one map-side
    filter: no join, no shuffle, no UDF. Strata absent from the map get
    `default`. The 60-bit hash is the repo's engine-portable md5 prefix,
    so the DuckDB oracle replays selection bit-exactly.
    -> the sampled rows, original schema."""
    thresholds = {k: int(float(v) * (1 << 60)) for k, v in fractions.items()}
    thr = F.lit(int(float(default) * (1 << 60)))
    for k, v in sorted(thresholds.items()):
        thr = F.when(F.col(strat) == F.lit(k), F.lit(v)).otherwise(thr)
    h = F.expr(
        _PORTABLE64_SPARK.format(
            x=f"concat(cast({doc_id} as string), ':', '{int(seed)}')"
        )
    )
    return docs.filter(h < thr)


def stratified_sample_oracle_sql(
    docs_rel: str,
    fractions: dict[str, float],
    *,
    strat: str = "source",
    doc_id: str = "doc_id",
    seed: int = 7,
    default: float = 0.0,
) -> str:
    """DuckDB mirror of stratified_sample (same integer thresholds, same
    portable 60-bit md5 hash)."""
    cases = " ".join(
        f"WHEN {strat} = '{k}' THEN {int(float(v) * (1 << 60))}"
        for k, v in sorted(fractions.items())
    )
    h = _PORTABLE64_DUCK.format(
        x=f"(CAST({doc_id} AS VARCHAR) || ':' || '{int(seed)}')"
    )
    return (
        f"SELECT * FROM ({docs_rel}) WHERE {h} < "
        f"(CASE {cases} ELSE {int(float(default) * (1 << 60))} END)"
    )


def token_budget_sample(
    docs: DataFrame,
    budgets: dict[str, int],
    *,
    strat: str = "source",
    doc_id: str = "doc_id",
    text: str = "text",
    n_tokens: str | None = None,
    seed: int = 7,
    default: int = 0,
    bucket_bits: int = 12,
) -> DataFrame:
    """Deterministic per-source TOKEN-budget sampling — the mixing step
    that turns mixture weights into an actual token allocation: within each
    stratum, documents are taken in portable_hash60(doc_id, seed) order
    until the stratum's cumulative whitespace-token count reaches its
    budget (keep iff inclusive running total <= budget). Selection is a
    pure function of (doc_id, seed, budgets): partition-count invariant,
    re-runnable, and NESTED in the budget (raising a stratum's budget only
    ever adds documents), so mixtures can be retuned without invalidating
    already-processed history.

    Scale shape (the naive rule is a running sum over every row of a
    stratum — one reducer per source at 100 TB): phase 1 aggregates token
    sums per (stratum, hash-prefix bucket) (2^bucket_bits buckets; one
    map-side-combinable aggregate collapsing to <= 4096 x n_strata rows,
    config-sized, collected), the driver prefix-sums the per-bucket totals
    to locate each stratum's BOUNDARY bucket and its remaining budget, and
    only the boundary bucket's rows (an expected 2^-bucket_bits fraction
    of each stratum) flow through the exact within-bucket running-sum
    window; every earlier bucket is kept by a map-side comparison against
    the broadcast CASE literal. Identical kept set to the naive rule:
    bucket id is the hash's top bits, so bucket order refines hash order.
    -> the kept rows: original columns + n_tokens.
    """
    if n_tokens is not None:
        ntok = F.col(n_tokens).cast("long")
    else:
        from whitebox_tools_spark.operators.text import tokens_expr

        ntok = F.size(tokens_expr(F.col(text))).cast("long")
    h = F.expr(
        _PORTABLE64_SPARK.format(
            x=f"concat(cast({doc_id} as string), ':', '{int(seed)}')"
        )
    )
    n_buckets = 1 << bucket_bits
    m = (
        docs.withColumn("n_tokens", ntok)
        .withColumn("__h", h)
        .withColumn("__b", F.shiftright(F.col("__h"), 60 - bucket_bits))
    )
    stats = (
        m.groupBy(strat, "__b").agg(F.sum("n_tokens").alias("t")).collect()
    )
    per = {}
    for r in stats:
        per.setdefault(r[strat], {})[r["__b"]] = r["t"]
    bstar: dict[str, int] = {}
    rem: dict[str, int] = {}
    for s, bt in per.items():
        budget = int(budgets.get(s, default))
        acc = 0
        boundary = n_buckets  # budget >= stratum total: keep every bucket
        for b in sorted(bt):
            if acc + bt[b] > budget:
                boundary = b
                break
            acc += bt[b]
        bstar[s] = boundary
        rem[s] = budget - acc
    bcol = F.lit(-1)
    rcol = F.lit(0)
    for s in sorted(bstar):
        bcol = F.when(F.col(strat) == F.lit(s), F.lit(bstar[s])).otherwise(bcol)
        rcol = F.when(F.col(strat) == F.lit(s), F.lit(rem[s])).otherwise(rcol)
    m = m.withColumn("__bs", bcol).withColumn("__rem", rcol)
    full = m.filter(F.col("__b") < F.col("__bs"))
    w = Window.partitionBy(strat).orderBy("__h", doc_id)
    edge = (
        m.filter(F.col("__b") == F.col("__bs"))
        .withColumn("__cum", F.sum("n_tokens").over(w))
        .filter(F.col("__cum") <= F.col("__rem"))
        .drop("__cum")
    )
    return full.unionByName(edge).drop("__h", "__b", "__bs", "__rem")


def token_budget_sample_oracle_sql(
    docs_rel: str,
    budgets: dict[str, int],
    *,
    strat: str = "source",
    doc_id: str = "doc_id",
    seed: int = 7,
    default: int = 0,
) -> str:
    """DuckDB mirror of token_budget_sample via the NAIVE rule (full
    per-stratum running sum in hash order) — deliberately a different
    algorithm than the engine's two-phase bucket plan, so the oracle
    validates the bucket decomposition itself."""
    cases = " ".join(
        f"WHEN {strat} = '{s}' THEN {int(v)}" for s, v in sorted(budgets.items())
    )
    h = _PORTABLE64_DUCK.format(
        x=f"(CAST({doc_id} AS VARCHAR) || ':' || '{int(seed)}')"
    )
    return f"""
WITH m AS (
  SELECT *, CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
         {h} AS __h
  FROM ({docs_rel}) t
),
c AS (
  SELECT *, sum(n_tokens) OVER (PARTITION BY {strat} ORDER BY __h, {doc_id}
                                ROWS UNBOUNDED PRECEDING) AS __cum
  FROM m
)
SELECT * EXCLUDE (__h, __cum) FROM c
WHERE __cum <= (CASE {cases} ELSE {int(default)} END)
"""


def pack_sequences(
    docs: DataFrame,
    seq_len: int,
    *,
    doc_id: str = "doc_id",
    text: str = "text",
    n_tokens: str | None = None,
    seed: int = 7,
    bucket_bits: int = 12,
) -> DataFrame:
    """Deterministic sequence packing — the final step of training-data
    prep: lay every document out on one GLOBAL token tape in
    portable_hash60(doc_id, seed) order (the same deterministic shuffle
    samplers use) and cut the tape into fixed seq_len windows. Each doc
    gets its exact global start offset and the range of training sequences
    it lands in (greedy concat-and-chunk packing, the
    GPT-style pretraining layout): seq_first = floor(start / L),
    seq_last = floor((start + n_tokens - 1) / L). Pure integer arithmetic
    over a pure function of (doc_id, seed) — partition-invariant,
    re-runnable, and APPEND-STABLE per bucket for incremental reruns.

    Scale shape (the naive layout is ONE global running sum — a single
    reducer at 100 TB): per-(hash-prefix bucket) token sums aggregate
    map-side to <= 2^bucket_bits rows, the driver prefix-sums them into
    per-bucket global offsets, and every bucket then computes its exact
    within-bucket running sum in PARALLEL (a window partitioned by bucket
    — 4096 independent partitions, one shuffle) shifted by its broadcast
    offset. Identical to the naive rule because bucket id is the hash's
    top bits: bucket order refines tape order.
    -> (doc_id, n_tokens, start_offset, seq_first, seq_last); zero-token
    docs occupy no tape (seq_first/seq_last = -1).
    """
    if n_tokens is not None:
        ntok = F.col(n_tokens).cast("long")
    else:
        from whitebox_tools_spark.operators.text import tokens_expr

        ntok = F.size(tokens_expr(F.col(text))).cast("long")
    h = F.expr(
        _PORTABLE64_SPARK.format(
            x=f"concat(cast({doc_id} as string), ':', '{int(seed)}')"
        )
    )
    m = docs.select(
        F.col(doc_id).alias("doc_id"),
        ntok.alias("n_tokens"),
        h.alias("__h"),
    ).withColumn("__b", F.shiftright(F.col("__h"), 60 - bucket_bits))
    m = m.localCheckpoint(eager=False)
    stats = m.groupBy("__b").agg(F.sum("n_tokens").alias("t")).collect()
    acc = 0
    rows = []
    for r in sorted(stats, key=lambda r: r["__b"]):
        rows.append((int(r["__b"]), acc))
        acc += r["t"]
    # per-bucket global base offsets as a broadcast-joined tiny table (a
    # 4096-deep CASE literal chain overflows the analyzer's stack)
    offs = docs.sparkSession.createDataFrame(
        rows or [(0, 0)], schema="__b LONG, __base LONG"
    )
    w = Window.partitionBy("__b").orderBy("__h", "doc_id")
    out = m.join(F.broadcast(offs), "__b", "left").withColumn(
        "start_offset",
        F.coalesce(F.col("__base"), F.lit(0))
        + F.sum("n_tokens").over(w)
        - F.col("n_tokens"),
    )
    L = int(seq_len)
    return out.select(
        "doc_id",
        "n_tokens",
        "start_offset",
        F.when(
            F.col("n_tokens") > 0, F.floor(F.col("start_offset") / L)
        ).otherwise(F.lit(-1)).cast("long").alias("seq_first"),
        F.when(
            F.col("n_tokens") > 0,
            F.floor((F.col("start_offset") + F.col("n_tokens") - 1) / L),
        ).otherwise(F.lit(-1)).cast("long").alias("seq_last"),
    )


def pack_sequences_oracle_sql(
    docs_rel: str, seq_len: int, *, doc_id: str = "doc_id", seed: int = 7
) -> str:
    """DuckDB mirror of pack_sequences via the NAIVE rule — ONE global
    running sum over the whole corpus in tape order (deliberately a
    different algorithm: the match validates the bucket decomposition)."""
    h = _PORTABLE64_DUCK.format(
        x=f"(CAST({doc_id} AS VARCHAR) || ':' || '{int(seed)}')"
    )
    return f"""
WITH m AS (
  SELECT {doc_id} AS doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
         {h} AS __h
  FROM ({docs_rel}) t
),
c AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(sum(n_tokens) OVER (ORDER BY __h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_offset
  FROM m
)
SELECT doc_id, n_tokens, start_offset,
       CASE WHEN n_tokens > 0 THEN start_offset // {int(seq_len)} ELSE -1 END AS seq_first,
       CASE WHEN n_tokens > 0 THEN (start_offset + n_tokens - 1) // {int(seq_len)} ELSE -1 END AS seq_last
FROM c
"""


# ---------------------------------------------------------------------------
# Corpus-level line dedup (the CCNet preprocessing pass — Wenzek et al.
# 2020 deduplicate paragraphs/lines ACROSS the whole corpus before LM
# filtering; boilerplate like nav bars and footers repeats verbatim)
# ---------------------------------------------------------------------------
def dedup_lines(
    docs: DataFrame,
    *,
    text: str = "text",
    doc_id: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """Remove every line whose trimmed text occurs >= min_count times
    ACROSS THE CORPUS (boilerplate); blank lines never count as
    boilerplate and are kept verbatim. Docs whose every line is removed
    survive with cleaned = ''.

    Scale shape: posexplode lines -> one corpus-wide line-count aggregate
    (map-side combined; boilerplate set is tiny by definition — only
    repeated lines survive the HAVING) -> left-anti equi-join on the
    trimmed line (AQE broadcasts the boilerplate side) -> per-doc
    reassembly via sort_array over (pos, line) structs, so output text is
    exactly the kept lines in original order. O(lines) rows through two
    shuffles; no windows, no UDFs.
    -> (doc_id, n_lines, n_removed, cleaned)."""
    base = docs.select(F.col(doc_id).alias("doc_id"), F.col(text).alias("_t"))
    lines = base.select(
        "doc_id", F.posexplode(F.split(F.col("_t"), "\n", -1)).alias("pos", "line")
    ).withColumn("k", F.trim(F.col("line")))
    boiler = (
        lines.filter(F.length("k") > 0)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("k")
    )
    kept = lines.join(boiler, "k", "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("cleaned"),
    )
    n_lines = base.select(
        "doc_id", F.size(F.split(F.col("_t"), "\n", -1)).cast("long").alias("n_lines")
    )
    return n_lines.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        (F.col("n_lines") - F.coalesce(F.col("n_kept"), F.lit(0))).alias("n_removed"),
        F.coalesce(F.col("cleaned"), F.lit("")).alias("cleaned"),
    )


def dedup_lines_oracle_sql(
    docs_rel: str = "SELECT * FROM documents", *, min_count: int = 2
) -> str:
    """DuckDB mirror of dedup_lines (identical split, trim-keyed corpus
    count, order-preserving reassembly via string_agg ORDER BY pos)."""
    return f"""
WITH d AS ({docs_rel}),
t AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM d),
l AS (
  SELECT doc_id, i AS pos, lines[i] AS line
  FROM t, unnest(generate_series(1, len(lines))) AS u(i)
),
b AS (
  SELECT trim(line) AS k FROM l WHERE length(trim(line)) > 0
  GROUP BY 1 HAVING count(*) >= {min_count}
),
kept AS (
  SELECT l.doc_id, l.pos, l.line
  FROM l LEFT JOIN b ON trim(l.line) = b.k WHERE b.k IS NULL
),
agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS cleaned
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, CAST(len(t.lines) AS BIGINT) AS n_lines,
       CAST(len(t.lines) - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_removed,
       COALESCE(agg.cleaned, '') AS cleaned
FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
"""


def remove_duplicate_spans(
    docs: DataFrame,
    *,
    k: int = 8,
    min_count: int = 2,
    text: str = "text",
    doc_id: str = "doc_id",
) -> DataFrame:
    """Exact-substring dedup REMOVAL (the acting counterpart of
    duplicate_text_spans — Lee et al. 2022 remove all but one occurrence
    of every duplicated substring; this is the deterministic
    position-marking variant of that rule over k-token grams):

      * a k-gram occurring >= min_count times in the corpus (across docs
        or repeated within one doc) is duplicated;
      * its CANONICAL occurrence is the globally smallest (doc_id, pos)
        — that one survives; every other occurrence marks its k covered
        token positions for removal (overlapping marks count once);
      * each doc is rebuilt from its surviving tokens in original order
        (a position survives iff no duplicated gram's non-canonical
        occurrence covers it).

    Runs of >= k duplicated tokens are removed in full from every
    non-canonical site (a run of L >= k shared tokens is covered by its
    L-k+1 grams); runs shorter than k are invisible — k is the floor,
    exactly as in the detection op.

    100-TB shape: gram explode -> one (gram) hash aggregate (count +
    min occurrence id, map-side combined) -> equi-join back on gram ->
    bounded sequence explode for covered positions -> distinct ->
    left-anti join against token positions -> one per-doc reassembly
    aggregate. No windows, no UDFs, no driver collect; position encoding
    bounds docs to 2^22 tokens (same contract as duplicate_text_spans).
    -> (doc_id, n_tokens, n_removed, cleaned)."""
    toks = docs.select(
        F.col(doc_id).alias("__d"), F.split(F.col(text), " ").alias("__t")
    )
    n = F.size(F.col("__t"))
    occ = (
        toks.filter(n >= k)
        .select(
            "__d",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), n - F.lit(k - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.array_join(F.slice(F.col("__t"), i, k), " ").alias("g"),
                    ),
                )
            ).alias("o"),
        )
        .select(
            "__d",
            F.col("o.pos").alias("pos"),
            F.col("o.g").alias("g"),
            (F.col("__d") * F.lit(1 << 22) + F.col("o.pos")).alias("occ"),
        )
    )
    gstat = (
        occ.groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"), F.min("occ").alias("canon"))
        .filter(F.col("c") >= min_count)
        .select("g", "canon")
    )
    cov = (
        occ.join(gstat, "g")
        .filter(F.col("occ") != F.col("canon"))
        .select("__d", F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("idx"))
        .distinct()
    )
    wp = toks.select(
        "__d", F.posexplode(F.col("__t")).alias("p", "w")
    ).select("__d", (F.col("p") + 1).alias("idx"), "w")
    kept = wp.join(cov, ["__d", "idx"], "left_anti")
    rebuilt = kept.groupBy("__d").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("idx", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("cleaned"),
    )
    base = toks.select("__d", F.size(F.col("__t")).cast("long").alias("n_tokens"))
    return base.join(rebuilt, "__d", "left").select(
        F.col("__d").alias("doc_id"),
        "n_tokens",
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).alias("n_removed"),
        F.coalesce(F.col("cleaned"), F.lit("")).alias("cleaned"),
    )


def remove_duplicate_spans_oracle_sql(
    docs_rel: str = "SELECT * FROM documents", *, k: int = 8, min_count: int = 2
) -> str:
    """DuckDB mirror of remove_duplicate_spans (identical single-space
    split, occurrence encoding, canonical-min rule, distinct covered
    positions, order-preserving reassembly)."""
    return f"""
WITH d AS ({docs_rel}),
t AS (SELECT doc_id AS dd, string_split(text, ' ') AS toks FROM d),
occ AS (
  SELECT dd, i AS pos, array_to_string(toks[i:i+{k - 1}], ' ') AS g,
         dd * {1 << 22} + i AS occ
  FROM t, unnest(generate_series(1, len(toks) - {k - 1})) u(i)
  WHERE len(toks) >= {k}
),
gstat AS (
  SELECT g, min(occ) AS canon FROM occ GROUP BY g HAVING count(*) >= {min_count}
),
cov AS (
  SELECT DISTINCT o.dd, c.idx
  FROM occ o JOIN gstat USING (g), unnest(generate_series(o.pos, o.pos + {k - 1})) c(idx)
  WHERE o.occ <> gstat.canon
),
wp AS (
  SELECT dd, i AS idx, toks[i] AS w
  FROM t, unnest(generate_series(1, len(toks))) u(i)
),
kept AS (
  SELECT wp.dd, wp.idx, wp.w FROM wp LEFT JOIN cov USING (dd, idx)
  WHERE cov.idx IS NULL
),
rb AS (
  SELECT dd, count(*) AS n_kept,
         string_agg(w, ' ' ORDER BY idx) AS cleaned
  FROM kept GROUP BY dd
)
SELECT t.dd AS doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(len(t.toks) - COALESCE(rb.n_kept, 0) AS BIGINT) AS n_removed,
       COALESCE(rb.cleaned, '') AS cleaned
FROM t LEFT JOIN rb ON t.dd = rb.dd
"""


def train_val_test_split(
    docs: DataFrame,
    *,
    doc_id: str = "doc_id",
    val_frac: float = 0.05,
    test_frac: float = 0.05,
    seed: int = 13,
) -> DataFrame:
    """Deterministic train/val/test split assignment — the standard final
    step before packing: u = portable_hash60(seed:doc_id) / 2^60 is a
    uniform, engine-portable, partition-invariant pseudo-random draw;
    test gets u < test_frac, val the next val_frac band, train the rest.
    Re-running on a grown corpus never reassigns an existing doc (the
    hash depends only on (seed, doc_id)) — the property that keeps eval
    sets stable across pipeline re-runs. Pure map-side expression, zero
    shuffles. -> (doc_id, u, split)."""
    h = F.expr(
        _PORTABLE64_SPARK.format(x=f"concat('{seed}:', cast({doc_id} as string))")
    )
    u = h.cast("double") / float(1 << 60)
    split = (
        F.when(u < test_frac, F.lit("test"))
        .when(u < test_frac + val_frac, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return docs.select(
        F.col(doc_id).alias("doc_id"),
        (F.round(u, 9) + F.lit(0.0)).alias("u"),
        split.alias("split"),
    )


def train_val_test_split_oracle_sql(
    docs_rel: str = "SELECT * FROM documents",
    *,
    val_frac: float = 0.05,
    test_frac: float = 0.05,
    seed: int = 13,
) -> str:
    """DuckDB mirror of train_val_test_split (identical md5-prefix hash,
    band arithmetic on the UNROUNDED u, identical final rounding)."""
    h = _PORTABLE64_DUCK.format(x=f"'{seed}:' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH d AS ({docs_rel}),
u AS (SELECT doc_id, CAST({h} AS DOUBLE) / {float(1 << 60)!r} AS uu FROM d)
SELECT doc_id, round(uu, 9) + 0.0 AS u,
       CASE WHEN uu < {test_frac!r} THEN 'test'
            WHEN uu < {test_frac + val_frac!r} THEN 'val'
            ELSE 'train' END AS split
FROM u
"""


def doc_containment(
    docs: DataFrame,
    *,
    k: int = 8,
    min_len: int = 10,
    min_coverage: float = 0.5,
    text: str = "text",
    doc_id: str = "doc_id",
) -> DataFrame:
    """Near-subset detection (the containment axis of Broder's resemblance
    /containment pair): for every near-dup pair found by
    duplicate_text_spans, the fraction of each doc's tokens covered by the
    pair's shared >= min_len-token runs (diagonal-multiset sum — spans
    repeated at several offsets count each time, documented and mirrored
    exactly); pairs where either side's coverage >= min_coverage are
    'containment' hits — quote-inclusion / boilerplate-wrapper cases that
    whole-doc Jaccard misses. Adds one aggregate + one broadcast-able
    token-count join over the detection op.
    -> (doc_id_a, doc_id_b, cov_a, cov_b, contained)."""
    spans = duplicate_text_spans(
        docs, k=k, min_len=min_len, text=text, doc_id=doc_id
    )
    tok = docs.select(
        F.col(doc_id).alias("doc_id"),
        F.size(F.split(F.col(text), " ")).cast("long").alias("n_tok"),
    )
    agg = spans.groupBy("doc_id_a", "doc_id_b").agg(
        F.sum("span_len").alias("shared")
    )
    out = (
        agg.join(tok.select(F.col("doc_id").alias("doc_id_a"), F.col("n_tok").alias("na")), "doc_id_a")
        .join(tok.select(F.col("doc_id").alias("doc_id_b"), F.col("n_tok").alias("nb")), "doc_id_b")
    )
    cov_a = F.col("shared").cast("double") / F.col("na")
    cov_b = F.col("shared").cast("double") / F.col("nb")
    return out.select(
        "doc_id_a",
        "doc_id_b",
        (F.round(cov_a, 6) + F.lit(0.0)).alias("cov_a"),
        (F.round(cov_b, 6) + F.lit(0.0)).alias("cov_b"),
        ((cov_a >= min_coverage) | (cov_b >= min_coverage))
        .cast("long")
        .alias("contained"),
    )


def doc_containment_oracle_sql(
    docs_rel: str = "SELECT * FROM documents",
    *,
    k: int = 8,
    min_len: int = 10,
    min_coverage: float = 0.5,
) -> str:
    """DuckDB mirror of doc_containment (composes the
    duplicate_text_spans oracle with the same coverage arithmetic)."""
    spans = duplicate_text_spans_oracle_sql(docs_rel, k=k, min_len=min_len)
    return f"""
WITH spans AS ({spans}),
tok AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM ({docs_rel}) d
),
agg AS (
  SELECT doc_id_a, doc_id_b, sum(span_len) AS shared
  FROM spans GROUP BY doc_id_a, doc_id_b
)
SELECT agg.doc_id_a, agg.doc_id_b,
       round(CAST(shared AS DOUBLE) / ta.n_tok, 6) + 0.0 AS cov_a,
       round(CAST(shared AS DOUBLE) / tb.n_tok, 6) + 0.0 AS cov_b,
       CAST(CAST(shared AS DOUBLE) / ta.n_tok >= {min_coverage!r}
            OR CAST(shared AS DOUBLE) / tb.n_tok >= {min_coverage!r}
            AS BIGINT) AS contained
FROM agg
JOIN tok ta ON agg.doc_id_a = ta.doc_id
JOIN tok tb ON agg.doc_id_b = tb.doc_id
"""
