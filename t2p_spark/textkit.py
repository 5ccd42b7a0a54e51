"""Training-data text operators over the ``documents`` table.

Each operator ships as a *twin*: an idiomatic Spark implementation (native
Column expressions only — JVM-side, whole-stage-codegen, no Python UDFs)
plus a DuckDB SQL oracle with bit-identical semantics. Parity is engineered,
not hoped for:

  - all content hashing is md5 (identical in both engines),
  - hex->int via CONV/CAST produces the same unsigned 32-bit values,
  - folds are sequential in both engines (Spark AGGREGATE, DuckDB
    list_reduce), integer arithmetic throughout,
  - NO float reaches a ranked or compared output (r4): every
    score/ratio is emitted as an exact x1e6 BIGINT, via pure integer
    division where the inputs are integers (jaccard, stopword ratio,
    lm_score means) or FLOOR-quantization where a log is involved
    (tfidf, bm25 per-term, lm vocab) — the fuzz suite caught Spark and
    DuckDB ROUND(double, 6) disagreeing by one ulp at a boundary, so
    ROUND is banned from outputs entirely.

Scale notes: every operator is a scan + narrow transform or a single
shuffle (groupBy/join on an explicit key). LSH candidate generation uses
explode+equi-join (shuffle on band hash), never OR-joins (nested loop).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from t2p_spark.materialize import materialize, new_inputs


# --- twin expression builders (s=Spark SQL, d=DuckDB SQL) -------------------

def _tokens(col: str, engine: str) -> str:
    if engine == "s":
        return f"filter(split(lower({col}), '[^a-z0-9]+'), x -> x != '')"
    return f"list_filter(string_split_regex(lower({col}), '[^a-z0-9]+'), x -> x != '')"


def _shingles(tokens: str, n: int, engine: str) -> str:
    """word n-grams joined by spaces; empty when fewer than n tokens.

    Guarded with CASE: Spark's sequence(1, 0) yields a *descending* [1, 0],
    so the unguarded form would fabricate shingles on short docs.
    """
    if engine == "s":
        # Spark bracket-indexing on arrays is 0-based
        parts = ", ".join(f"t[i + {k} - 1]" for k in range(n))
        body = (f"transform(sequence(1, size({tokens}) - {n - 1}), "
                f"i -> concat_ws(' ', {parts}))").replace("t[", f"{tokens}[")
        return (f"CASE WHEN size({tokens}) >= {n} THEN {body} "
                f"ELSE CAST(array() AS ARRAY<STRING>) END")
    parts = ", ".join(f"t[i + {k}]" for k in range(n))
    body = (f"list_transform(generate_series(1, len({tokens}) - {n - 1}), "
            f"i -> concat_ws(' ', {parts}))").replace("t[", f"{tokens}[")
    return (f"CASE WHEN len({tokens}) >= {n} THEN {body} "
            f"ELSE CAST([] AS VARCHAR[]) END")


def _hash60(expr: str, engine: str) -> str:
    """Unsigned 60-bit integer from the md5 prefix — identical both engines.

    60 bits (15 hex chars) rather than 64: the value must fit a *signed*
    BIGINT in both engines (Spark CONV and DuckDB '0x' cast both return
    signed 64-bit), and 60 = 4 simhash bands x 15 bits.
    """
    if engine == "s":
        return f"CAST(CONV(SUBSTRING(md5({expr}), 1, 15), 16, 10) AS BIGINT)"
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def _xform(lst: str, lam: str, engine: str) -> str:
    return (f"transform({lst}, {lam})" if engine == "s"
            else f"list_transform({lst}, {lam})")


def _amin(lst: str, engine: str) -> str:
    return f"array_min({lst})" if engine == "s" else f"list_min({lst})"


def _asize(lst: str, engine: str) -> str:
    return f"size({lst})" if engine == "s" else f"len({lst})"


def _adistinct(lst: str, engine: str) -> str:
    return f"array_distinct({lst})" if engine == "s" else f"list_distinct({lst})"


def _idiv(a: str, b: str, engine: str) -> str:
    """Exact integer division (both operands non-negative). Spark's `/` and
    DuckDB's `/` both promote integers to DOUBLE — a parity hazard near
    rounding boundaries — so integer math must use DIV / // explicitly."""
    return f"(({a}) DIV ({b}))" if engine == "s" else f"(({a}) // ({b}))"


def _wide(expr: str, engine: str) -> str:
    """Overflow-proof integer widening for products of two BIGINT-scale
    operands: DECIMAL(38,0) in Spark, HUGEINT (int128) in DuckDB — both
    exact to ~1e38, and both divide exactly under _idiv (Spark decimal
    DIV returns the integral BIGINT quotient; DuckDB // stays HUGEINT).
    Used wherever a web-scale corpus (~1e13 tokens) would overflow a
    signed 64-bit intermediate (r5 ADVICE: tot_tok * w_raw ~ 3e22)."""
    if engine == "s":
        return f"CAST({expr} AS DECIMAL(38,0))"
    return f"CAST({expr} AS HUGEINT)"


# Scale-preset knobs (builder arguments of _build/spark_sql_queries/
# duckdb_oracle_queries, mirroring ann.make_planes): defaults match the
# oracle corpus; at 10^9+ docs raise N_MINHASH (more bands -> higher
# recall) and lower JACCARD_MAX_DF (hotter vocabulary). Both engine twins
# derive from the same arguments, so any preset keeps oracle parity.
N_MINHASH = 8  # bands = n/2 (2 rows per band)
SIMHASH_BITS = 60       # fixed: fits signed BIGINT
SIMHASH_BANDS = 4       # band_bits = 60/bands; hamming_max = bands-1
HAMMING_MAX = 3         # <= bands-1 differing bits guarantees a shared band
# Shingles appearing in more documents than this are dropped before the
# Jaccard inverted-index self-join: one hot shingle ("in the of the")
# otherwise emits O(df^2) join rows — the classic scale-killer on web text.
# Applied identically in BOTH engine twins, so the operator computes
# df-capped Jaccard (standard practice for Jaccard mining at scale).
JACCARD_MAX_DF = 64
# substring (sequence-level) dedup: passage length in tokens and the
# document-frequency threshold at which a passage counts as repeated
# across documents. 5 tokens keeps the oracle corpus interesting; a web
# corpus would use ~50 (Lee et al., "Deduplicating Training Data Makes
# Language Models Better") — both twins derive from the same knob.
SUBSTR_N = 5
SUBSTR_MIN_DF = 2
# training-chunk explode: window length / stride in tokens (a web corpus
# would use ~2048/~2048-overlap; small values keep the oracle corpus
# multi-chunk). seq packing: the fixed training-sequence length for the
# concatenate-and-chunk packing accounting.
CHUNK_C = 24
CHUNK_STRIDE = 16
PACK_LEN = 256
# seq packing two-level cumsum: bucket width in doc_id space. The packing
# cumsum runs ORDER BY doc_id per source; a single per-source window is a
# one-reducer sort at web scale, so the Spark twin computes it two-level:
# per-(source, bucket) partial sums -> bucket offsets on the tiny bucket
# relation (broadcast back) -> within-bucket window. bucket = doc_id DIV W
# is monotone in doc_id, so offsets+within-bucket == the global cumsum
# exactly. Each bucket holds <= W docs; the offsets relation has one row
# per non-empty (source, bucket) — ~corpus/W rows, orders of magnitude
# smaller than the corpus (at 10^12 docs, W=2^20 leaves a ~10^6-row
# offsets relation — still one window, but over 10^-6 of the data; recurse
# the same trick if ever needed). 512 keeps the oracle corpus multi-bucket
# so tests exercise the two-level path for real.
SEQ_PACK_BUCKET_W = 512
# shard writer: number of fixed output shards for the training-manifest
# accounting. Assignment is a pure function of (doc_id, chunk_idx) — the
# md5-derived 60-bit hash mod N_SHARDS — so shard contents are invariant
# to cluster parallelism (a web corpus would use ~10k shards; 8 keeps the
# oracle corpus multi-chunk-per-shard).
N_SHARDS = 8
# mixture reweighting exponent, in half-steps: alpha = MIX_ALPHA_X2 / 2.
# 1 -> alpha 0.5 (sqrt temperature flattening, the multilingual-sampling
# default); 2 -> alpha 1.0 (proportional, no reweighting).
MIX_ALPHA_X2 = 1
# candidate vocab sizes for the tokenizer coverage curve (a web corpus
# would probe 16k-256k; these keep the oracle corpus's curve non-trivial)
VOCAB_KS = (64, 256, 1024, 4096)
# exact-Jaccard acceptance threshold (x1e6) for the LSH-candidate verify
# stage; 0.5 keeps the oracle corpus's verified/rejected split non-trivial
# (production web dedup typically verifies at 0.8+)
NEARDUP_VERIFY_X1E6 = 500000


def _pack_cum(e: str, tok_src: str) -> str:
    """CTE chain ``sized`` -> ``cum`` exposing (doc_id, source, n_tok,
    cum_end): the per-source running token cumsum in doc_id order — the
    packing prefix sum shared by seq_pack_stats and seq_pack_plan.

    Spark dialect: TWO-LEVEL cumsum. A direct per-source window sorts each
    source's full row set into one task — a single-reducer bottleneck at
    web scale. Instead: per-(source, bucket) partial sums, bucket offsets
    windowed over the tiny bucket relation and broadcast back, then a
    within-(source, bucket) window. bucket = doc_id DIV SEQ_PACK_BUCKET_W
    is monotone in doc_id, so the composition equals the global cumsum
    exactly — same integers, bounded partitions. The DuckDB twin keeps the
    direct single-window formulation, so the driver's hash compare proves
    the two-level rewrite exact on every run.
    """
    sized = f"""
        sized AS (
          SELECT doc_id, source, CAST({_asize('toks', e)} AS BIGINT) AS n_tok
          FROM {tok_src} pk
          WHERE {_asize('toks', e)} > 0
        )"""
    if e != "s":
        return sized + """,
        cum AS (
          SELECT doc_id, source, n_tok,
                 SUM(n_tok) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS cum_end
          FROM sized
        )"""
    return sized + f""",
        bkt AS (
          SELECT doc_id, source, n_tok,
                 CAST(doc_id DIV {SEQ_PACK_BUCKET_W} AS BIGINT) AS bkt
          FROM sized
        ),
        boff AS (
          SELECT source, bkt,
                 COALESCE(SUM(bkt_sum) OVER (
                   PARTITION BY source ORDER BY bkt
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS off
          FROM (SELECT source, bkt, SUM(n_tok) AS bkt_sum
                FROM bkt GROUP BY source, bkt) bs
        ),
        cum AS (
          SELECT /*+ BROADCAST(o) */ b.doc_id, b.source, b.n_tok,
                 o.off + SUM(b.n_tok) OVER (
                   PARTITION BY b.source, b.bkt ORDER BY b.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS cum_end
          FROM bkt b JOIN boff o ON o.source <=> b.source AND o.bkt = b.bkt
        )"""


def _tok_source(engine: str) -> str:
    """Token-augmented documents relation.

    Spark reads the cached ``documents_tok`` view (see run_textkit):
    Catalyst's CollapseProject would otherwise inline the tokenization
    alias into every array-lambda element access, re-running the regex
    split once per shingle element (measured 10-30x blowup). DuckDB CSEs
    the alias properly, so the oracle keeps it inline.
    """
    if engine == "s":
        return "documents_tok"
    return (f"(SELECT doc_id, source, n_chars, text, "
            f"{_tokens('text', 'd')} AS toks, "
            f"{_xform(_tokens('text', 'd'), 't -> ' + _hash60('t', 'd'), 'd')}"
            f" AS thashes FROM documents)")


def _minhash_select(engine: str, n_minhash: int = None) -> str:
    """SELECT doc_id, sig_0..sig_{n-1} FROM documents WHERE >=3 tokens."""
    n = N_MINHASH if n_minhash is None else n_minhash
    sh = _shingles("toks", 3, engine)
    sigs = ", ".join(
        _amin(_xform("sh", f"x -> md5(concat('{j}:', x))", engine), engine)
        + f" AS sig_{j}"
        for j in range(n)
    )
    return f"""
        SELECT doc_id, {sigs}
        FROM (
          SELECT doc_id, {sh} AS sh
          FROM {_tok_source(engine)} tokd
          WHERE {_asize('toks', engine)} >= 3
        ) shd
    """


def minhash_sig_inline(n_minhash: int = None) -> str:
    """Spark SQL expression: the N_MINHASH signature array computed directly
    from a raw ``text`` column in ONE projection — for streaming inputs,
    which cannot read the cached ``documents_tok`` view (no cache on a
    stream). Nested HOF let-bindings — ``transform(array(x), v -> ...)[1]``
    binds a subexpression to a lambda variable evaluated once per row — so
    the regex tokenization and the shingle build each run once, not once
    per element access (the CollapseProject inlining blowup the batch path
    avoids by materializing documents_tok). Semantics are identical to
    _minhash_select's per-signature expressions."""
    n = N_MINHASH if n_minhash is None else n_minhash
    toks = _tokens("text", "s")
    sh_t = _shingles("t", 3, "s")
    sigs = ", ".join(
        _amin(_xform("sh", f"x -> md5(concat('{j}:', x))", "s"), "s")
        for j in range(n))
    return (f"element_at(transform(array({toks}), "
            f"t -> element_at(transform(array({sh_t}), "
            f"sh -> array({sigs})), 1)), 1)")


def _simhash_expr(hashes: str, engine: str) -> str:
    """60-bit simhash of the token-hash array.

    Spark: ONE pass over the array — an aggregate whose accumulator is the
    60-entry vote vector (nested indexed-transform lambda), then a second
    tiny fold over the 60 votes to assemble the bits. The unrolled per-bit
    form would scan the token array 60 times per document.
    DuckDB (oracle scale only): the unrolled per-bit sum — DuckDB CSEs the
    repeated list scans well enough for a 500-doc oracle corpus.
    """
    if engine == "s":
        votes = (f"aggregate({hashes}, array_repeat(0L, {SIMHASH_BITS}), "
                 f"(acc, h) -> transform(acc, (v, i) -> "
                 f"v + IF((shiftright(h, i) & 1) = 1, 1, -1)))")
        return (f"aggregate(transform({votes}, "
                f"(v, i) -> IF(v > 0, shiftleft(1L, i), 0L)), "
                f"0L, (a, b) -> a + b)")
    bits = []
    for i in range(SIMHASH_BITS):
        vote = ("CAST(list_sum(list_transform(" + hashes +
                f", h -> CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END)) AS BIGINT)")
        bits.append(f"(CASE WHEN {vote} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"



# --- operator catalog --------------------------------------------------------
# One engine-parameterized builder: the Spark query and its DuckDB oracle are
# generated from the same template, so twin drift is impossible. Engine
# differences are confined to the helper functions above plus two explicitly
# forked bodies (LSH pair join shape, explode vs unnest).

def _build(engine: str, n_minhash: int = None, simhash_bands: int = None,
           jaccard_max_df: int = None, substr_n: int = None,
           substr_min_df: int = None, n_shards: int = None,
           mix_alpha_x2: int = None) -> dict:
    e = engine
    q = {}
    tok_src = _tok_source(e)
    n_mh = N_MINHASH if n_minhash is None else n_minhash
    assert n_mh % 2 == 0, "minhash bands are 2-row pairs"
    sh_bands = SIMHASH_BANDS if simhash_bands is None else simhash_bands
    assert SIMHASH_BITS % sh_bands == 0, "bands must divide 60"
    band_bits = SIMHASH_BITS // sh_bands
    hamming_max = sh_bands - 1  # pigeonhole: banded == brute force
    jac_cap = JACCARD_MAX_DF if jaccard_max_df is None else jaccard_max_df
    sub_n = SUBSTR_N if substr_n is None else substr_n
    sub_df = SUBSTR_MIN_DF if substr_min_df is None else substr_min_df
    nsh = N_SHARDS if n_shards is None else n_shards
    alpha_x2 = MIX_ALPHA_X2 if mix_alpha_x2 is None else mix_alpha_x2
    assert alpha_x2 in (1, 2), "mixture alpha supported at 0.5 or 1.0"

    # exact dedup groups (hash-groupBy; one shuffle on the 128-bit key)
    q["dedup_exact"] = """
        SELECT md5(text) AS text_md5,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MIN(doc_id) AS BIGINT) AS rep_doc_id
        FROM documents
        GROUP BY md5(text)
    """

    # minhash signatures (scan + narrow transform, zero shuffles)
    q["minhash_signatures"] = _minhash_select(e, n_mh)

    # LSH candidate pairs. Spark: explode 4 bands -> equi-join on
    # (band, key) — a shuffle on the band hash, never an OR-join nested
    # loop (lsh_pairs_build_sql). The pair relation is materialized
    # ONCE per corpus as ``pairs_mat`` (ensure_lsh_pairs) —
    # the candidate-pair table a production dedup pipeline persists — and
    # every pair consumer (this query, split_leakage,
    # source_overlap_matrix, neardup_verified_pairs, the CC resolution)
    # reads it instead of re-running the band self-join: before the r7
    # rewrite the bench evaluated the self-join ~8x per pass (2-10 s
    # each); at web scale each evaluation is a full corpus shuffle.
    # DuckDB oracle: the OR-join form (fine at oracle scale).
    if e == "s":
        q["dedup_minhash_lsh"] = "SELECT doc_a, doc_b FROM pairs_mat"
    else:
        or_arms = "\n               OR ".join(
            f"(a.sig_{2*i} = b.sig_{2*i} AND a.sig_{2*i+1} = b.sig_{2*i+1})"
            for i in range(n_mh // 2))
        q["dedup_minhash_lsh"] = f"""
            WITH sigs AS ({_minhash_select('d', n_mh)})
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
            WHERE {or_arms}
        """

    # simhash clusters over precomputed per-token hashes (thashes).
    # Spark reads the materialized simhash_mat view (run_textkit) so the
    # 60-bit fold runs once per doc, shared with simhash_neardup_pairs.
    simhash_src = ("simhash_mat" if e == "s" else
                   f"(SELECT doc_id, {_simhash_expr('thashes', 'd')} AS simhash"
                   f" FROM {tok_src} th)")
    q["simhash_clusters"] = f"""
        SELECT simhash, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MIN(doc_id) AS BIGINT) AS rep_doc_id
        FROM {simhash_src} t
        GROUP BY simhash
    """

    # simhash near-dup pairs at hamming <= {HAMMING_MAX}. Spark: banded
    # hamming join — 4 bands x 15 bits; by pigeonhole, <= 3 differing bits
    # leave at least one band identical, so banded candidates + exact verify
    # EQUALS brute force. The equi-join on (band, key) is the bucketed
    # shuffle shape (same skeleton as MinHash-LSH), never an all-pairs
    # cross. DuckDB oracle: the O(n^2) brute-force form — exactly the
    # ground truth the banding must reproduce.
    if e == "s":
        q["simhash_neardup_pairs"] = f"""
            WITH bands AS (
              SELECT doc_id, simhash, band,
                     shiftright(simhash, band * {band_bits})
                       & {(1 << band_bits) - 1} AS key
              FROM simhash_mat
              LATERAL VIEW explode(sequence(0, {sh_bands - 1})) b AS band
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     a.simhash AS sh_a, b.simhash AS sh_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
            )
            SELECT doc_a, doc_b,
                   CAST(bit_count(sh_a ^ sh_b) AS INT) AS hamming
            FROM cand
            WHERE bit_count(sh_a ^ sh_b) <= {hamming_max}
        """
    else:
        q["simhash_neardup_pairs"] = f"""
            WITH sh AS {simhash_src}
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= {hamming_max}
        """

    # n-gram Jaccard pairs: explode distinct 4-gram shingles, equi-join,
    # exact |A∩B| / |A∪B| from integer counts. Spark reads docsh_mat
    # (named view over documents_tok, created by run_textkit).
    sh4 = _adistinct(_shingles("toks", 4, e), e)
    docsh_body = f"""
          SELECT doc_id, sh FROM (
            SELECT doc_id, {sh4} AS sh FROM {tok_src} tk
          ) s WHERE {_asize("sh", e)} > 0
    """
    # Spark reads tokcap_mat — the CACHED df-capped (doc_id, shingle)
    # relation (flat strings cache well; array<string> columns do not) —
    # because the Jaccard query walks the capped shingle stream three
    # times (both self-join sides + sizes): inlined, the hot-shingle
    # groupBy and anti-join re-ran per reference (r7: 3x a 255k-row
    # shuffle at sf0.1; 3x a corpus-scale shuffle in production).
    explode = ("SELECT doc_id, shingle FROM tok_mat" if e == "s"
               else "SELECT doc_id, unnest(sh) AS shingle FROM docsh")
    docsh_ref = "docsh_mat" if e == "s" else f"({docsh_body})"
    # df cap (both twins): shingles seen in > JACCARD_MAX_DF docs are dropped
    # BEFORE the self-join — one extra groupBy bounds the join's per-key
    # fan-out at df^2 <= {cap}^2 rows instead of (corpus hot-key df)^2.
    # Jaccard is then computed over the capped shingle vocabulary (sizes
    # count surviving shingles), so |A∩B| <= |A∪B| stays invariant.
    # (Spark: the cap lives in the tokcap_mat BUILD — _tokcap_build_sql —
    # so prepare_textkit_views must receive the same jaccard_max_df
    # preset; the DuckDB twin keeps the cap inline.)
    if e == "s":
        tok_cte = "tok AS (SELECT doc_id, shingle FROM tokcap_mat)"
    else:
        tok_cte = f"""tok AS (
          SELECT t.doc_id, t.shingle
          FROM tok_all t
          WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.shingle = t.shingle)
        )"""
    q["ngram_jaccard_pairs"] = f"""
        WITH docsh AS (SELECT * FROM {docsh_ref} d0),
        tok_all AS ({explode}),
        hot AS (
          SELECT shingle FROM tok_all
          GROUP BY shingle
          HAVING COUNT(*) > {jac_cap}
        ),
        {tok_cte},
        sizes AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
          FROM tok GROUP BY doc_id
        ),
        common AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(COUNT(*) AS BIGINT) AS n_common
          FROM tok a JOIN tok b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b,
               CAST({_idiv('n_common * 1000000', 'sa.n + sb.n - n_common', e)}
                    AS BIGINT) AS jaccard_x1e6
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE 5 * n_common >= sa.n + sb.n - n_common
    """

    # sequence-level (substring) dedup — the dominant real-world dedup
    # mode for web corpora: find fixed-length token passages repeated
    # ACROSS documents and drop every occurrence outside one canonical
    # keeper doc (min doc_id per passage), reporting per-doc dropped-token
    # counts and the md5 of the retained text. Scale shape: positional
    # explode -> passage-hash groupBy (document frequency, bucketed by
    # hash — never an all-pairs join), flagged-start explode to covered
    # positions, NOT-EXISTS anti-join back onto the token stream, one
    # per-doc ordered aggregation. Work is O(|tokens| + {sub_n}·|flagged|)
    # regardless of corpus size. Engine forks: posexplode vs parallel
    # unnest(generate_series) for positional explode; ordered retained
    # concat via sorted-struct collect_list vs string_agg(ORDER BY).
    if e == "s":
        tokpos = ("SELECT doc_id, p + 1 AS pos, tok FROM documents_tok "
                  "LATERAL VIEW posexplode(toks) tp AS p, tok")
        shpos = f"""SELECT doc_id, p + 1 AS start, md5(sh) AS shash
              FROM (SELECT doc_id, {_shingles('toks', sub_n, 's')} AS shs
                    FROM documents_tok) t
              LATERAL VIEW posexplode(shs) sp AS p, sh"""
        covered = (f"SELECT doc_id, explode(sequence(start, "
                   f"start + {sub_n - 1})) AS pos FROM flagged")
        retained = ("md5(concat_ws(' ', transform("
                    "array_sort(collect_list(struct(pos, tok))), "
                    "x -> x.tok)))")
    else:
        tokpos = (f"SELECT doc_id, "
                  f"unnest(generate_series(1, len(toks))) AS pos, "
                  f"unnest(toks) AS tok FROM {tok_src} td")
        shpos = f"""SELECT doc_id,
                     unnest(generate_series(1, len(shs))) AS start,
                     unnest(list_transform(shs, s -> md5(s))) AS shash
              FROM (SELECT doc_id, {_shingles('toks', sub_n, 'd')} AS shs
                    FROM {tok_src} t) t2"""
        covered = (f"SELECT doc_id, unnest(generate_series(start, "
                   f"start + {sub_n - 1})) AS pos FROM flagged")
        retained = "md5(string_agg(tok, ' ' ORDER BY pos))"
    q["substring_dedup"] = f"""
        WITH tokpos AS ({tokpos}),
        sh AS ({shpos}),
        df AS (
          SELECT shash, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
                 CAST(MIN(doc_id) AS BIGINT) AS keeper
          FROM sh GROUP BY shash
        ),
        flagged AS (
          SELECT s.doc_id, s.start
          FROM sh s JOIN df ON df.shash = s.shash
          WHERE df.df >= {sub_df} AND s.doc_id <> df.keeper
        ),
        dropped AS (
          SELECT DISTINCT doc_id, pos FROM ({covered}) c
        ),
        kept AS (
          SELECT t.doc_id, t.pos, t.tok
          FROM tokpos t
          WHERE NOT EXISTS (
            SELECT 1 FROM dropped d
            WHERE d.doc_id = t.doc_id AND d.pos = t.pos
          )
        ),
        kept_agg AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
                 {retained} AS retained_md5
          FROM kept GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST({_asize('toks', e)} AS BIGINT) AS n_tokens,
               CAST({_asize('toks', e)} - COALESCE(k.n_kept, 0) AS BIGINT)
                 AS n_dropped,
               COALESCE(k.retained_md5, md5('')) AS retained_md5
        FROM {tok_src} d LEFT JOIN kept_agg k ON k.doc_id = d.doc_id
    """

    # language-ID heuristic (fixed EN stopword set; deterministic ratios)
    stop = "('the','a','an','and','of','to','in','is','it','on')"
    if e == "s":
        stop_cnt = f"size(filter(toks, t -> t IN {stop}))"
        sum_len = "aggregate(toks, 0L, (acc, t) -> acc + length(t))"
    else:
        stop_cnt = f"len(list_filter(toks, t -> t IN {stop}))"
        sum_len = "CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)"
    q["lang_id"] = f"""
        SELECT doc_id,
               CASE WHEN n_tok = 0 THEN 'empty'
                    WHEN stop_cnt * 10 >= n_tok THEN 'en_like'
                    WHEN avg_len_x100 > 650 THEN 'long_token'
                    ELSE 'other' END AS lang_pred,
               CAST(n_tok AS BIGINT) AS n_tokens,
               CAST(CASE WHEN n_tok = 0 THEN 0
                         ELSE {_idiv('stop_cnt * 1000000', 'n_tok', e)}
                    END AS BIGINT) AS stopword_x1e6
        FROM (
          SELECT doc_id,
                 {_asize("toks", e)} AS n_tok,
                 {stop_cnt} AS stop_cnt,
                 CASE WHEN {_asize("toks", e)} = 0 THEN 0
                      ELSE CAST(FLOOR({sum_len} * 100.0
                           / {_asize("toks", e)}) AS BIGINT) END
                   AS avg_len_x100
          FROM {tok_src} tk
        ) f
    """

    # quality scoring: punctuation/diversity/length features -> score
    punct = ("length(regexp_replace(text, '[a-z0-9 ]', ''))" if e == "s"
             else "length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))")
    q["quality_score"] = f"""
        SELECT doc_id,
               CAST(n_chars AS BIGINT) AS n_chars,
               CAST(n_tok AS BIGINT) AS n_tokens,
               CAST(n_distinct AS BIGINT) AS n_distinct_tokens,
               CAST(n_punct AS BIGINT) AS n_punct,
               CAST(FLOOR((CASE WHEN n_tok = 0 THEN 0.0 ELSE
                 (CAST(n_distinct AS DOUBLE) / n_tok) *
                 (CASE WHEN n_tok >= 20 THEN 1.0 ELSE n_tok / 20.0 END) *
                 (1.0 - CAST(n_punct AS DOUBLE) /
                        (CAST(n_chars AS DOUBLE) + 1.0))
               END) * 1000000.0) AS BIGINT) AS quality_x1e6
        FROM (
          SELECT doc_id, n_chars,
                 {_asize("toks", e)} AS n_tok,
                 {_asize(_adistinct("toks", e), e)} AS n_distinct,
                 {punct} AS n_punct
          FROM {tok_src} tk
        ) f
    """

    # corpus token statistics per source
    q["token_stats"] = f"""
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
               CAST(MAX(n_tok) AS BIGINT) AS max_tokens,
               CAST(SUM(n_distinct) AS BIGINT) AS sum_distinct_tokens
        FROM (
          SELECT doc_id, source, {_asize("toks", e)} AS n_tok,
                 {_asize(_adistinct("toks", e), e)} AS n_distinct
          FROM {tok_src} tk
        ) f
        GROUP BY source
    """

    # BPE-ish subword token counting (brief: "whitespace + a BPE-ish
    # regex"): GPT-2-style segmentation — contractions, space-prefixed
    # letter/digit runs, punctuation runs — alongside plain whitespace
    # tokens. The regex is ASCII-class-only so Java regex (Spark) and RE2
    # (DuckDB) segment identically (verified).
    if e == "s":
        bpe = ("size(regexp_extract_all(lower(text), "
               "\"'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ']+\", 0))")
        ws = "size(filter(split(text, '\\\\s+'), x -> x != ''))"
    else:
        bpe = ("len(regexp_extract_all(lower(text), "
               "'''[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 '']+'))")
        ws = "len(list_filter(string_split_regex(text, '\\s+'), x -> x != ''))"
    q["token_stats_bpe"] = f"""
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
               CAST(SUM(n_ws) AS BIGINT) AS total_ws_tokens,
               CAST(MAX(n_bpe) AS BIGINT) AS max_bpe_tokens
        FROM (
          SELECT doc_id, source, {bpe} AS n_bpe, {ws} AS n_ws
          FROM documents
        ) f
        GROUP BY source
    """

    # PII / secrets scrubbing — the standard curation stage before any
    # corpus leaves the lake: redact emails, 3-3-4 phone numbers, and
    # key-shaped strings (prefixed API tokens, >=32-hex-char runs),
    # reporting per-doc detection counts + the md5 of the redacted text.
    # Patterns are ASCII-class-only with NO backslash escapes, so the
    # same literal pattern text means the same thing to Java regex
    # (Spark) and RE2 (DuckDB) — the token_stats_bpe convention. Counts
    # are detections on the RAW text per category; redaction applies
    # email -> phone -> key sequentially (identical order both engines).
    # Scale shape: one narrow projection, zero shuffles, whole-stage
    # codegen end to end.
    pii_email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
    pii_phone = "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
    pii_key = "(sk|key|tok)-[A-Za-z0-9]{16,}|[A-Fa-f0-9]{32,}"

    def _re_count(col, pat):
        if e == "s":
            return f"size(regexp_extract_all({col}, '{pat}', 0))"
        return f"len(regexp_extract_all({col}, '{pat}'))"

    def _re_redact(col, pat, repl):
        if e == "s":
            return f"regexp_replace({col}, '{pat}', '{repl}')"
        return f"regexp_replace({col}, '{pat}', '{repl}', 'g')"

    redacted = _re_redact(
        _re_redact(_re_redact("text", pii_email, "<EMAIL>"),
                   pii_phone, "<PHONE>"),
        pii_key, "<KEY>")
    q["pii_scrub"] = f"""
        SELECT doc_id,
               CAST({_re_count('text', pii_email)} AS BIGINT) AS n_emails,
               CAST({_re_count('text', pii_phone)} AS BIGINT) AS n_phones,
               CAST({_re_count('text', pii_key)} AS BIGINT) AS n_keys,
               md5({redacted}) AS redacted_md5
        FROM documents
    """

    # training-chunk explode: split each doc into fixed-length token
    # windows with stride (the doc -> training-sample step of a pretraining
    # pipeline; at web scale ~2048/2048, here {CHUNK_C}/{CHUNK_STRIDE}).
    # Scale shape: one narrow explode per doc — output is O(n_tokens /
    # stride) rows, no shuffle until a downstream consumer groups. Engine
    # forks: posexplode vs parallel unnest for (chunk_idx, start); slice
    # vs list_slice for the window.
    if e == "s":
        chunk_rows = f"""
            SELECT doc_id, ci AS chunk_idx, s AS start,
                   slice(toks, s, {CHUNK_C}) AS chunk
            FROM (SELECT doc_id, toks,
                         CASE WHEN size(toks) = 0
                              THEN CAST(array() AS ARRAY<INT>)
                              ELSE sequence(1, size(toks), {CHUNK_STRIDE})
                         END AS starts
                  FROM documents_tok) t
            LATERAL VIEW posexplode(starts) sp AS ci, s"""
    else:
        chunk_rows = f"""
            SELECT doc_id,
                   unnest(generate_series(0,
                     len(starts) - 1)) AS chunk_idx,
                   unnest(starts) AS start,
                   unnest(list_transform(starts,
                     s -> list_slice(toks, s, s + {CHUNK_C - 1}))) AS chunk
            FROM (SELECT doc_id, toks,
                         CASE WHEN len(toks) = 0 THEN CAST([] AS BIGINT[])
                              ELSE generate_series(1, len(toks),
                                                   {CHUNK_STRIDE})
                         END AS starts
                  FROM {tok_src} t0) t"""
    chunk_text = ("concat_ws(' ', chunk)" if e == "s"
                  else "array_to_string(chunk, ' ')")
    q["chunk_documents"] = f"""
        SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
               CAST({_asize('chunk', e)} AS BIGINT) AS n_chunk_tokens,
               md5({chunk_text}) AS chunk_md5
        FROM ({chunk_rows}) c
    """

    # concatenate-and-chunk sequence-packing accounting: docs stream into
    # fixed {PACK_LEN}-token training sequences per source in doc_id order
    # (the standard GPT-style packing); reports per-source sequence counts,
    # tail waste, and how many docs straddle a sequence boundary (the
    # attention-fragmentation metric). Cumsum via _pack_cum (Spark:
    # two-level, scale-safe; DuckDB: direct window) + one groupBy —
    # utilization is emitted as an exact x1e6 integer
    # ({_idiv('a', 'b', e)}-style, no float).
    q["seq_pack_stats"] = f"""
        WITH {_pack_cum(e, tok_src)}
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
               CAST({_idiv('SUM(n_tok) + ' + str(PACK_LEN - 1),
                           str(PACK_LEN), e)} AS BIGINT) AS n_sequences,
               CAST(SUM(CASE WHEN {_idiv('cum_end - n_tok',
                                         str(PACK_LEN), e)}
                             <> {_idiv('cum_end - 1', str(PACK_LEN), e)}
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_docs,
               CAST({_idiv('SUM(n_tok) * 1000000',
                           '(' + _idiv('SUM(n_tok) + ' + str(PACK_LEN - 1),
                                       str(PACK_LEN), e)
                           + ') * ' + str(PACK_LEN), e)} AS BIGINT)
                 AS utilization_x1e6
        FROM cum
        GROUP BY source
    """

    # KMV (k-minimum-values) distinct sketch over event users — the
    # deterministic mergeable sketch (HLL's approx_count_distinct differs
    # between engines, so it cannot be twin-checked; KMV with a shared md5
    # hash is bit-identical). Estimate = (k-1) * 2^60 / kth_min_hash;
    # (k-1)*2^60 and the division are exact/deterministic in IEEE double.
    # At scale: one shuffle on event_type; the per-group top-k is
    # window-limited map-side (WindowGroupLimit).
    uid_str = ("CAST(user_id AS STRING)" if e == "s"
               else "CAST(user_id AS VARCHAR)")
    kmv_hash = _hash60(uid_str, e)
    q["distinct_users_kmv"] = f"""
        WITH h AS (
          SELECT DISTINCT event_type, user_id FROM events
        ),
        ranked AS (
          SELECT event_type, {kmv_hash} AS hv,
                 ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY {kmv_hash}
                 ) AS rn
          FROM h
        ),
        kth AS (
          SELECT event_type, MAX(hv) AS kth_hash,
                 CAST(COUNT(*) AS BIGINT) AS k
          FROM ranked WHERE rn <= 32
          GROUP BY event_type
        )
        SELECT event_type, k,
               CAST(FLOOR((k - 1) * 1152921504606846976.0 / kth_hash)
                    AS BIGINT) AS est_distinct
        FROM kth
    """

    # rolling polynomial fingerprint (order-sensitive left fold, mod prime)
    if e == "s":
        fold = ("aggregate(thashes, 0L, "
                "(acc, h) -> pmod(acc * 31 + h, 2147483647))")
    else:
        fold = ("CAST(list_reduce(list_prepend(0, thashes), "
                "(acc, h) -> (acc * 31 + h) % 2147483647) AS BIGINT)")
    q["doc_fingerprint"] = f"""
        SELECT doc_id, {fold} AS fingerprint
        FROM {tok_src} th
    """

    # --- training-data curation composites (round 3) -----------------------

    # Gopher/C4-style quality filter: per-doc keep/drop verdict with the
    # dropping rule named (a pipeline keeps the reasons for audit). All
    # features are exact integers (FLOOR-scaled ratios), so the twins are
    # bit-identical; thresholds are corpus-relative so the verdict mix is
    # non-trivial at oracle scale. Scale shape: one narrow pass, no joins.
    q["corpus_filter"] = f"""
        SELECT doc_id, verdict, CAST(n_tok AS BIGINT) AS n_tokens
        FROM (
          SELECT doc_id, n_tok,
                 CASE WHEN n_tok < 12 THEN 'too_few_tokens'
                      WHEN mean_len_x100 < 400 THEN 'short_words'
                      WHEN mean_len_x100 > 470 THEN 'long_words'
                      WHEN sym_x1e6 > 60000 THEN 'symbol_heavy'
                      WHEN stop_cnt = 0 THEN 'no_stopwords'
                      ELSE 'keep' END AS verdict
          FROM (
            SELECT doc_id,
                   {_asize("toks", e)} AS n_tok,
                   CASE WHEN {_asize("toks", e)} = 0 THEN 0
                        ELSE CAST(FLOOR({sum_len} * 100.0
                             / {_asize("toks", e)}) AS BIGINT) END
                     AS mean_len_x100,
                   CAST(FLOOR({punct} * 1000000.0
                        / (n_chars + 1)) AS BIGINT) AS sym_x1e6,
                   {stop_cnt} AS stop_cnt
            FROM {tok_src} tk
          ) feats
        ) v
    """

    # deterministic stratified train/test split: md5-bucket of doc_id
    # (hash-stable across engines/runs/cluster sizes — the property a
    # training split needs; random() would be neither twin-checkable nor
    # reproducible). Narrow projection, zero shuffle.
    docid_str = ("CAST(doc_id AS STRING)" if e == "s"
                 else "CAST(doc_id AS VARCHAR)")
    split_expr = (f"CASE WHEN {_hash60(docid_str, e)} % 100 < 80 "
                  f"THEN 'train' ELSE 'test' END")
    # Spark reads the cached documents_tok projection (1:1 with documents,
    # r7): the split is consumed by the funnel/leakage composites, which
    # would otherwise re-scan parquet per evaluation. DuckDB keeps the
    # direct scan.
    split_src = "documents_tok" if e == "s" else "documents"
    q["sample_split"] = f"""
        SELECT doc_id, {split_expr} AS split FROM {split_src}
    """

    # TF-IDF top terms per document — the classic corpus-weighting
    # operator (keyword extraction / near-dup explanations / retrieval
    # features). Scale shape: explode -> two partial-agg shuffles (tf on
    # (doc, tok), df on tok) -> broadcast-size df join -> per-doc window
    # top-k (WindowGroupLimit bounds it map-side). Parity: rank on the
    # ROUNDED score (LN may differ in the last ulp between libm and the
    # JVM), ties broken on the term.
    tok_explode = (f"SELECT doc_id, explode(toks) AS tok FROM {tok_src}"
                   if e == "s" else
                   f"SELECT doc_id, unnest(toks) AS tok FROM {tok_src} tu")
    q["tfidf_top_terms"] = f"""
        WITH tok AS ({tok_explode}),
        tf AS (
          SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
          FROM tok GROUP BY doc_id, tok
        ),
        df AS (
          SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok
        ),
        n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.tok,
                 CAST(FLOOR(tf * LN(n.n_docs / df.df) * 1000000.0)
                      AS BIGINT) AS tfidf_x1e6
          FROM tf JOIN df ON df.tok = tf.tok CROSS JOIN n
        )
        SELECT doc_id, tok, tfidf_x1e6,
               CAST(rnk AS BIGINT) AS rnk
        FROM (
          SELECT doc_id, tok, tfidf_x1e6,
                 ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY tfidf_x1e6 DESC, tok
                 ) AS rnk
          FROM scored
        ) r WHERE rnk <= 3
    """

    # BM25 retrieval: rank documents against a fixed query-term set — the
    # standard lexical-search scorer (k1=1.2, b=0.75). Scale shape: the
    # tiny query-term relation prunes the exploded token stream BEFORE any
    # aggregation (semi-join on the term), so tf/df are computed only for
    # query terms; one window for the final top-k. Parity: inputs are
    # exact integers; each per-(doc,term) score is quantized to a x1e6
    # BIGINT BEFORE the SUM (lm_score's pattern — r3 ADVICE: summing
    # doubles is order-dependent and Spark's partial aggregation orders
    # differently from DuckDB), so the per-doc aggregate is an exact
    # integer sum; ranking on it with doc_id tie-break.
    qterms = "('the','press','with','from','local','report')"
    q["bm25_search"] = f"""
        WITH tok AS ({tok_explode}),
        qtok AS (
          SELECT doc_id, tok FROM tok WHERE tok IN {qterms}
        ),
        dl AS (
          SELECT doc_id, CAST({_asize('toks', e)} AS BIGINT) AS dl
          FROM {tok_src} tb
        ),
        n AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
          FROM dl
        ),
        tf AS (
          SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
          FROM qtok GROUP BY doc_id, tok
        ),
        df AS (
          SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok
        ),
        scored AS (
          SELECT tf.doc_id,
                 CAST(SUM(CAST(FLOOR(
                   LN(1.0 + (n.n_docs - df.df + 0.5) / (df.df + 0.5)) *
                   (tf.tf * 2.2) /
                   (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / n.avgdl))
                   * 1000000.0
                 ) AS BIGINT)) AS BIGINT) AS bm25_x1e6
          FROM tf
          JOIN df ON df.tok = tf.tok
          JOIN dl ON dl.doc_id = tf.doc_id
          CROSS JOIN n
          GROUP BY tf.doc_id
        )
        SELECT doc_id, bm25_x1e6, CAST(rnk AS BIGINT) AS rnk
        FROM (
          SELECT doc_id, bm25_x1e6,
                 ROW_NUMBER() OVER (ORDER BY bm25_x1e6 DESC, doc_id) AS rnk
          FROM scored
        ) r WHERE rnk <= 20
    """

    # cross-split near-dup leakage: MinHash-LSH candidate pairs whose ends
    # land in different splits — the contamination check every training
    # pipeline runs before eval. Composes the LSH pairs (bucketed
    # equi-join) with the split projection: two cheap hash joins on doc_id.
    q["split_leakage"] = f"""
        WITH pairs AS ({q['dedup_minhash_lsh']}),
        splits AS (SELECT doc_id, {split_expr} AS split FROM {split_src})
        SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b
        FROM pairs p
        JOIN splits sa ON sa.doc_id = p.doc_a
        JOIN splits sb ON sb.doc_id = p.doc_b
        WHERE sa.split <> sb.split
    """

    # Deterministic stratified subsampling: within every source stratum,
    # rank docs by their content-independent hash and keep an exact 20%
    # quota (CEIL, so tiny strata keep >= 1). Hash-rank sampling is the
    # reproducible, cluster-size-invariant alternative to random() — the
    # property a training-data sampler must have — and the quota is exact
    # per stratum, which bernoulli hashing (sample_split) cannot give.
    # Scale shape: one window per stratum (rank + count over source).
    q["stratified_sample"] = f"""
        WITH ranked AS (
          SELECT doc_id, source,
                 ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY {_hash60(docid_str, e)}, doc_id
                 ) AS rnk,
                 COUNT(*) OVER (PARTITION BY source) AS n_source
          FROM {split_src}
        )
        SELECT doc_id, source, CAST(rnk AS BIGINT) AS rnk,
               CAST(n_source AS BIGINT) AS n_source
        FROM ranked
        WHERE rnk <= CEIL(n_source / 5.0)
    """

    # The dedup DECISION list — what the pipeline actually executes: every
    # doc in a near-dup cluster gets keep/drop, keeping the HIGHEST-quality
    # member (not the min doc_id — quality-aware survivor selection is the
    # production rule). Composes connected components x quality_score;
    # ranking is on the exact-integer quality_x1e6 with doc_id
    # tie-break. Spark reads cc_mat (materialized by run_textkit via the
    # iterative CC); the oracle inlines the recursive-CTE walk. Scale
    # shape: two joins on doc_id + one per-cluster window (WindowGroupLimit
    # caps it map-side).
    if e == "s":
        cc_src = "SELECT doc_id, cluster_rep FROM cc_mat"
    else:
        cc_src = f"""
          WITH RECURSIVE pairs AS ({q['dedup_minhash_lsh']}),
          edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM pairs
          ),
          nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
          walk(doc_id, label) AS (
            SELECT doc_id, doc_id FROM nodes
            UNION
            SELECT e.dst, w.label
            FROM walk w JOIN edges e ON e.src = w.doc_id
          )
          SELECT doc_id, MIN(label) AS cluster_rep
          FROM walk GROUP BY doc_id
        """
    q["dedup_keep_list"] = f"""
        WITH comps AS ({cc_src}),
        qual AS ({q['quality_score']}),
        ranked AS (
          SELECT c.doc_id, c.cluster_rep, qu.quality_x1e6,
                 ROW_NUMBER() OVER (
                   PARTITION BY c.cluster_rep
                   ORDER BY qu.quality_x1e6 DESC, c.doc_id
                 ) AS rnk
          FROM comps c JOIN qual qu ON qu.doc_id = c.doc_id
        )
        SELECT doc_id, cluster_rep, quality_x1e6,
               CASE WHEN rnk = 1 THEN 'keep' ELSE 'drop' END AS decision
        FROM ranked
    """

    # CCNet-style unigram-LM quality score: per-doc mean negative log-prob
    # under the corpus's own unigram distribution (the cheap stand-in for
    # the wikipedia-LM perplexity filter; low = fluent/common vocabulary,
    # high = rare-token soup). Parity engineering: the per-token log-prob
    # is quantized to an integer ONCE PER VOCAB TERM
    # (FLOOR(LN(cnt/N)*1e6)), so the per-doc aggregation is an exact
    # integer sum — immune to float-sum ordering, which differs between
    # Spark's partial aggregation and DuckDB — and the mean is emitted as
    # a x1e6 BIGINT via exact half-up integer division ((2a+b) div 2b):
    # the fuzz suite caught Spark and DuckDB ROUND(double, 6) disagreeing
    # by one ulp at a boundary, so no float touches the output at all.
    # Scale shape: explode -> tf groupBy -> vocab join (vocab << corpus)
    # -> doc groupBy.
    q["lm_score"] = f"""
        WITH tok AS ({tok_explode}),
        tf AS (
          SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
          FROM tok GROUP BY doc_id, tok
        ),
        vocab AS (
          SELECT tok, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY tok
        ),
        n AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n_total FROM vocab),
        logq AS (
          SELECT tok,
                 CAST(FLOOR(LN(cnt / n.n_total) * 1000000.0) AS BIGINT)
                   AS logq_x1e6
          FROM vocab CROSS JOIN n
        )
        SELECT tf.doc_id,
               CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
               CAST({_idiv('-2 * SUM(tf.tf * lq.logq_x1e6) + SUM(tf.tf)',
                           '2 * SUM(tf.tf)', e)} AS BIGINT)
                 AS mean_neg_logprob_x1e6
        FROM tf JOIN logq lq ON lq.tok = tf.tok
        GROUP BY tf.doc_id
    """

    # Gopher-style repetition signals: top-token fraction + duplicate-2gram
    # fraction, with the filter verdict a curation pipeline would act on.
    # All ratios are FLOOR-scaled exact integers (twin-identical). Scale
    # shape: explode -> partial-agg groupBy (doc_id, tok) -> groupBy doc_id
    # (one shuffle chain, map-side combine), then a co-partitioned join on
    # doc_id with the narrow 2-gram projection — no self-joins, no windows.
    sh2 = _shingles("toks", 2, e)
    q["repetition_stats"] = f"""
        WITH tok AS ({tok_explode}),
        tf AS (
          SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
          FROM tok GROUP BY doc_id, tok
        ),
        top AS (
          SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_cnt,
                 CAST(SUM(c) AS BIGINT) AS n_tok
          FROM tf GROUP BY doc_id
        ),
        grams AS (
          SELECT doc_id,
                 CAST({_asize('g2', e)} AS BIGINT) AS n2,
                 CAST({_asize(_adistinct('g2', e), e)} AS BIGINT) AS d2
          FROM (SELECT doc_id, {sh2} AS g2 FROM {tok_src} rg) s
        )
        SELECT t.doc_id,
               t.n_tok AS n_tokens,
               t.top_cnt AS top_token_count,
               CAST(FLOOR(t.top_cnt * 1000000.0 / t.n_tok) AS BIGINT)
                 AS top_token_frac_x1e6,
               CASE WHEN g.n2 = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(FLOOR((g.n2 - g.d2) * 1000000.0 / g.n2)
                              AS BIGINT) END AS dup_2gram_frac_x1e6,
               CASE WHEN t.top_cnt * 5 >= t.n_tok THEN 'repetitive_token'
                    WHEN g.n2 > 0 AND (g.n2 - g.d2) * 2 >= g.n2
                      THEN 'repetitive_2gram'
                    ELSE 'ok' END AS verdict
        FROM top t JOIN grams g ON g.doc_id = t.doc_id
    """

    # Benchmark-contamination check: fraction of a doc's distinct 3-gram
    # shingles that also occur in a held-out "benchmark" slice (here the
    # deterministic doc_id % 50 = 0 slice — a benchmark is external in
    # production, but the operator shape is identical). Scale shape: the
    # benchmark shingle set is tiny relative to the corpus, so Spark
    # broadcasts it and the overlap count is a map-side semi-lookup over
    # the exploded candidate stream — the corpus is never self-joined.
    sh3 = _adistinct(_shingles("toks", 3, e), e)
    csh_body = f"SELECT doc_id, {sh3} AS sh FROM {tok_src} ct"
    if e == "s":
        # r7: the csh CTE was referenced three times (bench + sizes +
        # hits); Catalyst inlines deterministic CTEs, so the regex
        # shingle build ran 3x per evaluation (and the funnel embeds this
        # body once more). The distinct-shingle ARRAYS are materialized
        # once per corpus as ``csh3_mat`` (ensure_csh3 — the
        # tokcap/docsh pattern); consumers explode the cached arrays.
        # ``sizes`` needs no explode at all: the arrays are distinct, so
        # COUNT(*) over the exploded stream == size(sh) (zero-shingle
        # docs gain a sizes row, invisible through the inner join).
        # Exact same rows; the DuckDB twin below keeps the naive
        # formulation, so the driver's hash compare proves it.
        q["contamination_check"] = """
        WITH bench AS (
          SELECT DISTINCT shingle FROM (
            SELECT explode(sh) AS shingle FROM csh3_mat WHERE doc_id % 50 = 0
          ) bx
        ),
        sizes AS (
          SELECT doc_id, CAST(size(sh) AS BIGINT) AS n_shingles
          FROM csh3_mat WHERE doc_id % 50 <> 0
        ),
        hits AS (
          SELECT /*+ BROADCAST(b) */ c.doc_id,
                 CAST(COUNT(*) AS BIGINT) AS n_overlap
          FROM (SELECT doc_id, explode(sh) AS shingle FROM csh3_mat
                WHERE doc_id % 50 <> 0) c
          JOIN bench b ON b.shingle = c.shingle
          GROUP BY c.doc_id
        )
        SELECT h.doc_id, h.n_overlap, s.n_shingles,
               CAST(FLOOR(h.n_overlap * 1000000.0 / s.n_shingles) AS BIGINT)
                 AS overlap_x1e6,
               CASE WHEN h.n_overlap * 5 >= s.n_shingles
                    THEN 'contaminated' ELSE 'clean' END AS verdict
        FROM hits h JOIN sizes s ON s.doc_id = h.doc_id
    """
    else:
        c_explode = f"SELECT doc_id, unnest(sh) AS shingle FROM ({csh_body}) cx"
        q["contamination_check"] = f"""
        WITH csh AS ({c_explode}),
        bench AS (
          SELECT DISTINCT shingle FROM csh WHERE doc_id % 50 = 0
        ),
        cand AS (
          SELECT doc_id, shingle FROM csh WHERE doc_id % 50 <> 0
        ),
        sizes AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
          FROM cand GROUP BY doc_id
        ),
        hits AS (
          SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
          FROM cand c JOIN bench b ON b.shingle = c.shingle
          GROUP BY c.doc_id
        )
        SELECT h.doc_id, h.n_overlap, s.n_shingles,
               CAST(FLOOR(h.n_overlap * 1000000.0 / s.n_shingles) AS BIGINT)
                 AS overlap_x1e6,
               CASE WHEN h.n_overlap * 5 >= s.n_shingles
                    THEN 'contaminated' ELSE 'clean' END AS verdict
        FROM hits h JOIN sizes s ON s.doc_id = h.doc_id
    """

    # per-source top terms — the corpus-statistics pass before tokenizer
    # training / mixture design: term counts per source, top-5 by count
    # with term tie-break. One groupBy + one WindowGroupLimit-capped
    # window; the shape of events_key_skew for text.
    src_explode = (f"SELECT source, explode(toks) AS tok FROM {tok_src}"
                   if e == "s" else
                   f"SELECT source, unnest(toks) AS tok FROM {tok_src} su")
    q["top_terms_by_source"] = f"""
        WITH tok AS ({src_explode}),
        tf AS (
          SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM tok GROUP BY source, tok
        )
        SELECT source, tok, cnt, CAST(rnk AS BIGINT) AS rnk
        FROM (
          SELECT source, tok, cnt,
                 ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY cnt DESC, tok
                 ) AS rnk
          FROM tf
        ) r WHERE rnk <= 5
    """

    # source-level near-dup overlap matrix — which sources duplicate each
    # other (the mixture-design diagnostic: a source pair with heavy
    # near-dup overlap double-counts its weight). Composes the MinHash-LSH
    # candidate pairs (band equi-join, never all-pairs) with two source
    # lookups; symmetric pairs canonicalized by LEAST/GREATEST.
    q["source_overlap_matrix"] = f"""
        WITH pairs AS ({q['dedup_minhash_lsh']}),
        s AS (SELECT doc_id, source FROM documents)
        SELECT LEAST(sa.source, sb.source) AS source_a,
               GREATEST(sa.source, sb.source) AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM pairs p
        JOIN s sa ON sa.doc_id = p.doc_a
        JOIN s sb ON sb.doc_id = p.doc_b
        GROUP BY LEAST(sa.source, sb.source), GREATEST(sa.source, sb.source)
    """

    # End-to-end curation pipeline: corpus_filter -> repetition gate ->
    # contamination gate -> near-dup keep-list -> stratified split,
    # composed from the operator CTEs above (so the stages share the one
    # cached documents_tok scan on the Spark side) and reported as a
    # per-stage attrition table — the survivorship funnel a 100-TB
    # curation run monitors. Gate semantics: a doc passes a gate unless
    # that stage explicitly flags it (docs with no flag row pass — the
    # repetition/contamination/keep-list relations only cover flagged or
    # clustered docs). The final stage reports the kept set per split.
    # Oracle = the identical composition of the DuckDB twins.
    # Spark dialect (r7 optimization round): the chained-NOT-EXISTS /
    # 6-UNION-branch formulation re-evaluated every stage CTE once per
    # branch (Catalyst inlines WITH subqueries; the branches' subtrees
    # differ, so ReuseExchange cannot dedupe them — 152 Exchange nodes
    # in that plan). Rewritten to the proven curate_attrition_incr shape
    # with the stages INLINE: every stage relation holds at most one row
    # per doc_id, so the funnel is ONE pass
    # of left joins + cumulative pass flags. The report aggregates by
    # ROLLUP(split) — per-split rows AND the grand-total row in one
    # aggregate — and a single explode over that tiny relation emits both
    # the five stage totals and the 5_split rows (a zero-weight sentinel
    # row keeps the grand-total group alive on an empty corpus, where
    # Expand would otherwise emit nothing) and the 5_split rows, so NOTHING in the funnel is
    # referenced twice: one evaluation, one plan. Gate semantics preserved
    # exactly: NOT EXISTS == row IS NULL OR row is clean; the 5_split
    # branch emits only splits with surviving docs (n4 > 0), as the inner
    # join did. The DuckDB twin keeps the chained composition, so the
    # driver's hash compare proves the rewrite equivalent.
    if e == "s":
        q["curate_attrition"] = f"""
        WITH cf AS ({q['corpus_filter']}),
        rep AS ({q['repetition_stats']}),
        cont AS ({q['contamination_check']}),
        keepl AS ({q['dedup_keep_list']}),
        spl AS ({q['sample_split']}),
        f AS (
          SELECT d.doc_id,
                 CASE WHEN cf.verdict = 'keep' THEN 1 ELSE 0 END AS p1,
                 CASE WHEN cf.verdict = 'keep'
                       AND (r.doc_id IS NULL OR r.verdict = 'ok')
                      THEN 1 ELSE 0 END AS p2,
                 CASE WHEN cf.verdict = 'keep'
                       AND (r.doc_id IS NULL OR r.verdict = 'ok')
                       AND (c.doc_id IS NULL OR c.verdict <> 'contaminated')
                      THEN 1 ELSE 0 END AS p3,
                 CASE WHEN cf.verdict = 'keep'
                       AND (r.doc_id IS NULL OR r.verdict = 'ok')
                       AND (c.doc_id IS NULL OR c.verdict <> 'contaminated')
                       AND (k.doc_id IS NULL OR k.decision <> 'drop')
                      THEN 1 ELSE 0 END AS p4,
                 sp.split
          FROM documents_tok d
          LEFT JOIN cf ON cf.doc_id = d.doc_id
          LEFT JOIN rep r ON r.doc_id = d.doc_id
          LEFT JOIN cont c ON c.doc_id = d.doc_id
          LEFT JOIN keepl k ON k.doc_id = d.doc_id
          LEFT JOIN spl sp ON sp.doc_id = d.doc_id
        ),
        f2 AS (
          SELECT 1 AS one, p1, p2, p3, p4, split FROM f
          UNION ALL
          SELECT 0, 0, 0, 0, 0, CAST(NULL AS STRING)
        ),
        agg AS (
          SELECT GROUPING(split) AS g, split,
                 COALESCE(SUM(one), 0) AS n_all,
                 COALESCE(SUM(p1), 0) AS n1, COALESCE(SUM(p2), 0) AS n2,
                 COALESCE(SUM(p3), 0) AS n3, COALESCE(SUM(p4), 0) AS n4
          FROM f2 GROUP BY ROLLUP(split)
        )
        SELECT s.stage, CAST(s.n_docs AS BIGINT) AS n_docs FROM (
          SELECT explode(
            CASE WHEN g = 1 THEN array(
                   named_struct('stage', '0_input', 'n_docs', n_all),
                   named_struct('stage', '1_corpus_filter', 'n_docs', n1),
                   named_struct('stage', '2_repetition', 'n_docs', n2),
                   named_struct('stage', '3_contamination', 'n_docs', n3),
                   named_struct('stage', '4_near_dedup', 'n_docs', n4))
                 WHEN split IS NOT NULL AND n4 > 0 THEN array(
                   named_struct('stage', concat('5_split_', split),
                                'n_docs', n4))
                 ELSE CAST(array()
                           AS ARRAY<STRUCT<stage: STRING, n_docs: BIGINT>>)
            END) AS s
          FROM agg
        ) ex
    """
    else:
        q["curate_attrition"] = f"""
        WITH cf AS ({q['corpus_filter']}),
        rep AS ({q['repetition_stats']}),
        cont AS ({q['contamination_check']}),
        keepl AS ({q['dedup_keep_list']}),
        spl AS ({q['sample_split']}),
        s1 AS (SELECT doc_id FROM cf WHERE verdict = 'keep'),
        s2 AS (
          SELECT doc_id FROM s1
          WHERE NOT EXISTS (SELECT 1 FROM rep r
                            WHERE r.doc_id = s1.doc_id
                              AND r.verdict <> 'ok')
        ),
        s3 AS (
          SELECT doc_id FROM s2
          WHERE NOT EXISTS (SELECT 1 FROM cont c
                            WHERE c.doc_id = s2.doc_id
                              AND c.verdict = 'contaminated')
        ),
        s4 AS (
          SELECT doc_id FROM s3
          WHERE NOT EXISTS (SELECT 1 FROM keepl k
                            WHERE k.doc_id = s3.doc_id
                              AND k.decision = 'drop')
        )
        SELECT '0_input' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents
        UNION ALL SELECT '1_corpus_filter', CAST(COUNT(*) AS BIGINT) FROM s1
        UNION ALL SELECT '2_repetition', CAST(COUNT(*) AS BIGINT) FROM s2
        UNION ALL SELECT '3_contamination', CAST(COUNT(*) AS BIGINT) FROM s3
        UNION ALL SELECT '4_near_dedup', CAST(COUNT(*) AS BIGINT) FROM s4
        UNION ALL
        SELECT concat('5_split_', spl.split) AS stage,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM s4 JOIN spl ON spl.doc_id = s4.doc_id
        GROUP BY spl.split
    """

    # Incremental curation funnel: identical output to curate_attrition,
    # but consuming ALREADY-MATERIALIZED stage relations (cf_mat/rep_mat/
    # cont_mat/keepl_mat/spl_mat temp views, built+cached once by
    # prepare_textkit_views) instead of recomputing every gate inline —
    # the shape a 100-TB curation run actually schedules: each gate is its
    # own job writing a table, and the funnel report is a cheap join over
    # those tables. The DuckDB twin IS the full composition (same rows by
    # construction), so the driver row proves incremental == recompute.
    # Spark-side plan: with the stage tables materialized (each holding
    # AT MOST ONE row per doc_id), the whole funnel is ONE pass of
    # broadcast left-joins + cumulative pass flags + one aggregate —
    # instead of a chained-NOT-EXISTS CTE that Spark re-evaluates per
    # UNION branch (measured 9.8 s warm at sf0.1 vs ~1 s for this shape).
    # Gate semantics preserved exactly: a doc passes unless its stage row
    # exists AND flags it (NOT EXISTS == row IS NULL OR row is clean).
    # r7: same one-pass report shape as curate_attrition above — the
    # previous stack + UNION branch referenced ``f`` twice, so the whole
    # 5-join pipeline (and its AQE stage-by-stage scheduling) ran twice
    # per report. ROLLUP(split) + one explode emits the stage totals and
    # the per-split rows from a single evaluation; reading documents_tok
    # (the cached projection, 1:1 with documents) skips the per-report
    # parquet re-scan.
    if e == "s":
        # r7 follow-up: the 5-way left join built five broadcast relations
        # per report (and at 100 TB the stage tables are corpus-sized —
        # unbroadcastable, so the join shape degrades to six SMJ shuffles).
        # corpus_filter emits one row for EVERY doc (no WHERE; 1:1 scan of
        # documents_tok), so the funnel is a pure per-doc conjunction over
        # the stage tables themselves: UNION the tagged flag rows and
        # aggregate by doc_id — ONE shuffle of narrow (doc_id, flag) rows,
        # zero joins, and the doc universe comes from the cf rows
        # (guide §2.3 "aggregate before you shuffle" / §2.4). Flag
        # polarity handles the absent-row semantics: a doc with no rep/
        # cont/keepl row contributes no bad flag, MAX() = 0 = pass —
        # exactly the old "row IS NULL OR row is clean". The DuckDB twin
        # (below) keeps the chained NOT-EXISTS composition, so the
        # driver's hash compare proves this shape equivalent.
        q["curate_attrition_incr"] = """
        WITH u AS (
          SELECT doc_id,
                 CASE WHEN verdict = 'keep' THEN 0 ELSE 1 END AS cf_bad,
                 0 AS rep_bad, 0 AS cont_bad, 0 AS keep_bad,
                 CAST(NULL AS INT) AS split_code
          FROM cf_mat
          UNION ALL
          SELECT doc_id, 0,
                 CASE WHEN verdict <> 'ok' THEN 1 ELSE 0 END, 0, 0,
                 CAST(NULL AS INT)
          FROM rep_mat
          UNION ALL
          SELECT doc_id, 0, 0,
                 CASE WHEN verdict = 'contaminated' THEN 1 ELSE 0 END, 0,
                 CAST(NULL AS INT)
          FROM cont_mat
          UNION ALL
          SELECT doc_id, 0, 0, 0,
                 CASE WHEN decision = 'drop' THEN 1 ELSE 0 END,
                 CAST(NULL AS INT)
          FROM keepl_mat
          UNION ALL
          -- split carried as a tiny int code: MAX(string) forces a
          -- SortAggregate buffer (two partial sorts of the whole union);
          -- a fixed-width code keeps the group-by a HashAggregate. Each
          -- doc has exactly ONE spl row, so MAX only ever sees one
          -- non-null code — the encoding order can't matter.
          SELECT doc_id, 0, 0, 0, 0,
                 CASE WHEN split = 'train' THEN 1 ELSE 2 END
          FROM spl_mat
        ),
        f AS (
          SELECT doc_id,
                 1 - MAX(cf_bad) AS p1,
                 (1 - MAX(cf_bad)) * (1 - MAX(rep_bad)) AS p2,
                 (1 - MAX(cf_bad)) * (1 - MAX(rep_bad))
                   * (1 - MAX(cont_bad)) AS p3,
                 (1 - MAX(cf_bad)) * (1 - MAX(rep_bad))
                   * (1 - MAX(cont_bad)) * (1 - MAX(keep_bad)) AS p4,
                 CASE MAX(split_code) WHEN 1 THEN 'train'
                      WHEN 2 THEN 'test' END AS split
          FROM u GROUP BY doc_id
        ),
        f2 AS (
          SELECT 1 AS one, p1, p2, p3, p4, split FROM f
          UNION ALL
          SELECT 0, 0, 0, 0, 0, CAST(NULL AS STRING)
        ),
        agg AS (
          SELECT GROUPING(split) AS g, split,
                 COALESCE(SUM(one), 0) AS n_all,
                 COALESCE(SUM(p1), 0) AS n1, COALESCE(SUM(p2), 0) AS n2,
                 COALESCE(SUM(p3), 0) AS n3, COALESCE(SUM(p4), 0) AS n4
          FROM f2 GROUP BY ROLLUP(split)
        )
        SELECT s.stage, CAST(s.n_docs AS BIGINT) AS n_docs FROM (
          SELECT explode(
            CASE WHEN g = 1 THEN array(
                   named_struct('stage', '0_input', 'n_docs', n_all),
                   named_struct('stage', '1_corpus_filter', 'n_docs', n1),
                   named_struct('stage', '2_repetition', 'n_docs', n2),
                   named_struct('stage', '3_contamination', 'n_docs', n3),
                   named_struct('stage', '4_near_dedup', 'n_docs', n4))
                 WHEN split IS NOT NULL AND n4 > 0 THEN array(
                   named_struct('stage', concat('5_split_', split),
                                'n_docs', n4))
                 ELSE CAST(array()
                           AS ARRAY<STRUCT<stage: STRING, n_docs: BIGINT>>)
            END) AS s
          FROM agg
        ) ex
        """
    else:
        q["curate_attrition_incr"] = q["curate_attrition"]

    # Shard writer / training-manifest accounting: deterministic
    # assignment of every training chunk to one of {nsh} fixed shards via
    # the md5-derived 60-bit hash of (doc_id, chunk_idx) — a pure function
    # of the data, so shard contents are invariant to cluster parallelism
    # (pinned by pytest at two parallelism levels). Per shard: chunk
    # count, token count, and two digests — content_md5, the exact
    # order-canonical digest (sorted-struct fold / string_agg ORDER BY),
    # and content_fp60, the ORDER-FREE mergeable bit_xor fingerprint,
    # which is the 100-TB-correct digest (map-side combinable, no
    # per-shard collect of all chunk hashes). Scale shape: one hash
    # groupBy over the chunk stream; with ~10k shards each group is a
    # bounded manifest row, and the actual shard WRITE would be
    # df.repartition(nsh, shard_id).write — same assignment column.
    _s = "STRING" if e == "s" else "VARCHAR"
    shard_key = f"concat(CAST(doc_id AS {_s}), '#', CAST(chunk_idx AS {_s}))"
    chunk_fp = _hash60(f"concat(chunk_md5, ':', {shard_key})", e)
    if e == "s":
        shard_md5 = ("md5(concat_ws(',', transform(array_sort("
                     "collect_list(struct(doc_id, chunk_idx, chunk_md5))), "
                     "s -> s.chunk_md5)))")
    else:
        shard_md5 = ("md5(string_agg(chunk_md5, ',' "
                     "ORDER BY doc_id, chunk_idx))")
    q["shard_manifest"] = f"""
        WITH ch AS ({q['chunk_documents']}),
        asg AS (
          SELECT {_hash60(shard_key, e)} % {nsh} AS shard_id,
                 doc_id, chunk_idx, n_chunk_tokens, chunk_md5,
                 {chunk_fp} AS fp60
          FROM ch
        )
        SELECT CAST(shard_id AS BIGINT) AS shard_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(n_chunk_tokens) AS BIGINT) AS total_tokens,
               {shard_md5} AS content_md5,
               CAST(BIT_XOR(fp60) AS BIGINT) AS content_fp60
        FROM asg GROUP BY shard_id
    """

    # Mixture reweighting: per-source sampling weight w ∝ tokens^alpha
    # (alpha = {alpha_x2}/2 — the temperature-flattening knob of
    # multilingual/multi-source pretraining mixes) plus the effective
    # post-reweight token allocation at the corpus's own token budget.
    # Parity engineering: tokens^0.5 is computed as an EXACT integer
    # floor(1000*sqrt(t)) — double SQRT seeds the value and one ±1
    # integer correction makes it exact in both engines (the double error
    # is < 1 everywhere below 2^63), so no float reaches the compared
    # output; normalization uses exact integer division. All products of
    # two corpus-scale operands go through _wide (DECIMAL(38,0)/HUGEINT):
    # at ~1e13 tokens per source, t*1e6, s0^2 (~9e18), w_raw*1e6 under
    # alpha=1, and tot_tok*w_raw (~3e22) all overflow signed BIGINT
    # (r5 ADVICE) — the wide intermediates are exact to 1e38 and the
    # final quotients fit BIGINT by construction (quotient <= tot_tok).
    # Scale shape: the per-source relation is tiny (one row per source) —
    # a single map-side-combined groupBy then scalar broadcast joins.
    if alpha_x2 == 1:
        x6 = f"{_wide('total_tokens', e)} * 1000000"
        seed = f"CAST(FLOOR(SQRT(CAST({x6} AS DOUBLE))) AS BIGINT)"
        w_raw = f"""
          CASE WHEN {_wide('s0 + 1', e)} * (s0 + 1) <= {x6} THEN s0 + 1
               WHEN {_wide('s0', e)} * s0 > {x6} THEN s0 - 1
               ELSE s0 END"""
        wsrc = f"""
          SELECT source, n_docs, total_tokens, {w_raw} AS w_raw
          FROM (SELECT source, n_docs, total_tokens, {seed} AS s0
                FROM src) sd"""
    else:
        wsrc = ("SELECT source, n_docs, total_tokens, "
                "total_tokens * 1000 AS w_raw FROM src")
    q["mixture_weights"] = f"""
        WITH src AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM({_asize('toks', e)}) AS BIGINT) AS total_tokens
          FROM {tok_src} mw GROUP BY source
        ),
        wr AS ({wsrc}),
        tot AS (
          SELECT CAST(SUM(w_raw) AS BIGINT) AS sum_w,
                 CAST(SUM(total_tokens) AS BIGINT) AS tot_tok
          FROM wr
        )
        SELECT source, n_docs, total_tokens,
               CAST(CASE WHEN t.sum_w = 0 THEN 0
                         ELSE {_idiv(_wide('w_raw', e) + ' * 1000000',
                                     't.sum_w', e)}
                    END AS BIGINT) AS weight_x1e6,
               CAST(CASE WHEN t.sum_w = 0 THEN 0
                         ELSE {_idiv(_wide('t.tot_tok', e) + ' * w_raw',
                                     't.sum_w', e)}
                    END AS BIGINT) AS eff_tokens
        FROM wr CROSS JOIN tot t
    """

    # The packing MAP that seq_pack_stats accounts for: per document, the
    # training sequence it starts in and its token offset within that
    # sequence (GPT-style concatenate-and-chunk in doc_id order per
    # source) — the assignment a packing writer consumes. Pure integer
    # math over the shared _pack_cum prefix sum (Spark: two-level,
    # scale-safe; DuckDB: direct window): start = cum_end - n_tok,
    # seq_idx = start DIV {PACK_LEN}, offset = start MOD {PACK_LEN}.
    q["seq_pack_plan"] = f"""
        WITH {_pack_cum(e, tok_src)}
        SELECT doc_id, source, n_tok,
               CAST({_idiv('cum_end - n_tok', str(PACK_LEN), e)} AS BIGINT)
                 AS seq_idx,
               CAST((cum_end - n_tok) % {PACK_LEN} AS BIGINT) AS seq_offset,
               CAST({_idiv('cum_end - 1', str(PACK_LEN), e)}
                 AS BIGINT) AS end_seq_idx
        FROM cum
    """

    # Tokenizer vocab coverage curve: for candidate vocab sizes K, the
    # fraction of corpus tokens covered by the K most frequent terms
    # (count-desc, term tie-break) — the sizing pass run before tokenizer
    # training (coverage at K vs OOV rate). Exact integers throughout
    # (coverage as x1e6 via {_idiv('a','b',e)}-style division). Scale
    # shape: the expensive part is one explode + term groupBy (map-side
    # combined). The rank/cumsum window only ever matters for rank <=
    # max(VOCAB_KS), so the Spark dialect bounds it STRUCTURALLY: ORDER BY
    # cnt DESC, term LIMIT {max(VOCAB_KS)} first — Spark plans that as
    # TakeOrderedAndProject (fully parallel per-partition top-K + merge),
    # and the window then runs over <= {max(VOCAB_KS)} rows instead of the
    # full term relation (billions of distinct terms on a web corpus
    # through one reducer otherwise). Exact for every preset K; the
    # corpus-wide total comes from the unbounded aggregate. The DuckDB
    # twin keeps the unbounded window, so the driver's hash compare proves
    # the LIMIT rewrite exact.
    kmax = max(VOCAB_KS)
    ranked_src = (f"(SELECT term, cnt FROM tf "
                  f"ORDER BY cnt DESC, term LIMIT {kmax}) topk"
                  if e == "s" else "tf")
    ks = ", ".join(f"({k})" for k in VOCAB_KS)
    k_rel = (f"SELECT * FROM VALUES {ks} AS kk(k)" if e == "s"
             else f"SELECT * FROM (VALUES {ks}) kk(k)")
    v_explode = (f"SELECT explode(toks) AS tok FROM {tok_src}" if e == "s"
                 else f"SELECT unnest(toks) AS tok FROM {tok_src} vc")
    q["vocab_coverage"] = f"""
        WITH tok AS ({v_explode}),
        tf AS (
          SELECT tok AS term, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM tok GROUP BY tok
        ),
        ranked AS (
          SELECT cnt,
                 ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rnk
          FROM {ranked_src}
        ),
        cum AS (
          SELECT rnk,
                 SUM(cnt) OVER (ORDER BY rnk
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS covered
          FROM ranked
        ),
        tot AS (
          SELECT CAST(SUM(cnt) AS BIGINT) AS total_tokens,
                 CAST(COUNT(*) AS BIGINT) AS n_terms
          FROM tf
        )
        SELECT CAST(kk.k AS BIGINT) AS k,
               CAST(LEAST(kk.k, t.n_terms) AS BIGINT) AS vocab_size,
               CAST(c.covered AS BIGINT) AS covered_tokens,
               t.total_tokens,
               CAST({_idiv('c.covered * 1000000', 't.total_tokens', e)}
                 AS BIGINT) AS coverage_x1e6
        FROM ({k_rel}) kk
        CROSS JOIN tot t
        JOIN cum c ON c.rnk = LEAST(kk.k, t.n_terms)
        WHERE t.total_tokens > 0
    """

    # Two-stage near-dup dedup, verify stage: production LSH dedup never
    # trusts the banded candidates alone — each candidate pair gets its
    # EXACT distinct-token Jaccard computed and thresholded, and only
    # verified pairs feed the keep-list. Candidate generation stays the
    # banded equi-join (never all-pairs); verification explodes tokens
    # ONLY for candidate docs (the pair relation semi-join-prunes the
    # token stream — at web scale candidates << corpus, so the pairs
    # relation broadcasts and the verify cost is O(candidate tokens)).
    # Exact integers end-to-end: hashed distinct tokens, bigint counts,
    # x1e6 Jaccard via exact integer division; zero common tokens is a
    # valid candidate outcome (band hash collisions) and yields jaccard 0.
    #
    # Spark dialect (r5 verdict fix): aggregate each candidate doc's
    # DISTINCT token-hash set ONCE (semi-join-pruned to pair endpoints),
    # then intersect per pair with array_intersect — a doc appearing in k
    # candidate pairs contributes one bounded array k times instead of
    # replaying its exploded token stream through a k-way join+groupBy
    # (the viral-cluster hot-key of the previous formulation). The DuckDB
    # twin keeps the explode+equi-join+COUNT formulation, so the driver's
    # hash compare proves the set-intersect rewrite exact.
    if e == "s":
        q["neardup_verified_pairs"] = f"""
        WITH pairs AS ({q['dedup_minhash_lsh']}),
        cand AS (
          SELECT doc_a AS doc_id FROM pairs
          UNION
          SELECT doc_b AS doc_id FROM pairs
        ),
        tsets AS (
          SELECT t.doc_id, array_distinct(t.thashes) AS hs
          FROM documents_tok t
          LEFT SEMI JOIN cand ON cand.doc_id = t.doc_id
        ),
        joined AS (
          SELECT p.doc_a, p.doc_b,
                 CAST(size(array_intersect(ta.hs, tb.hs)) AS BIGINT)
                   AS n_common,
                 CAST(size(ta.hs) AS BIGINT) AS n_a,
                 CAST(size(tb.hs) AS BIGINT) AS n_b
          FROM pairs p
          JOIN tsets ta ON ta.doc_id = p.doc_a
          JOIN tsets tb ON tb.doc_id = p.doc_b
        )
        SELECT doc_a, doc_b, n_common, n_a, n_b,
               CAST(CASE WHEN n_a + n_b = n_common THEN 0
                         ELSE {_idiv('n_common * 1000000',
                                     'n_a + n_b - n_common', e)}
                    END AS BIGINT) AS jaccard_x1e6,
               CASE WHEN n_common * 1000000
                         >= {NEARDUP_VERIFY_X1E6} * (n_a + n_b - n_common)
                    THEN 'dup' ELSE 'rejected' END AS verdict
        FROM joined
    """
    else:
        vt_explode = (f"SELECT doc_id, unnest(list_distinct(thashes)) AS h "
                      f"FROM ({_tok_source('d')}) vt")
        q["neardup_verified_pairs"] = f"""
        WITH pairs AS ({q['dedup_minhash_lsh']}),
        tokd AS ({vt_explode}),
        sizes AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok
          FROM tokd GROUP BY doc_id
        ),
        common AS (
          SELECT ta.doc_id AS doc_a, tb.doc_id AS doc_b,
                 CAST(COUNT(*) AS BIGINT) AS n_common
          FROM pairs p
          JOIN tokd ta ON ta.doc_id = p.doc_a
          JOIN tokd tb ON tb.doc_id = p.doc_b AND tb.h = ta.h
          GROUP BY ta.doc_id, tb.doc_id
        )
        SELECT p.doc_a, p.doc_b,
               COALESCE(c.n_common, 0) AS n_common,
               sa.n_tok AS n_a, sb.n_tok AS n_b,
               CAST(CASE WHEN sa.n_tok + sb.n_tok = COALESCE(c.n_common, 0)
                         THEN 0
                         ELSE {_idiv('COALESCE(c.n_common, 0) * 1000000',
                                     'sa.n_tok + sb.n_tok'
                                     ' - COALESCE(c.n_common, 0)', e)}
                    END AS BIGINT) AS jaccard_x1e6,
               CASE WHEN COALESCE(c.n_common, 0) * 1000000
                         >= {NEARDUP_VERIFY_X1E6}
                         * (sa.n_tok + sb.n_tok - COALESCE(c.n_common, 0))
                    THEN 'dup' ELSE 'rejected' END AS verdict
        FROM pairs p
        JOIN sizes sa ON sa.doc_id = p.doc_a
        JOIN sizes sb ON sb.doc_id = p.doc_b
        LEFT JOIN common c ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b
    """
    return q


def spark_sql_queries(**presets) -> dict:
    """name -> Spark SQL over the registered views (+ documents_tok).

    presets: n_minhash / simhash_bands / jaccard_max_df (see the knob
    comments above) — pass the SAME values to duckdb_oracle_queries and
    prepare_textkit_views; parity holds for any preset."""
    return _build("s", **presets)


def duckdb_oracle_queries(**presets) -> dict:
    """name -> DuckDB SQL with identical semantics (the correctness twin)."""
    return _build("d", **presets)


def ensure_documents_tok(spark: SparkSession, force: bool = False) -> None:
    """Materialize+cache the token/hash-augmented documents projection.

    Without this, Catalyst's CollapseProject inlines the tokenization into
    every array-lambda element access downstream — the regex split then
    reruns once per shingle/bit access (measured 10-30x blowup at sf0.1).
    The cached view is small (tokens ~= text size) and every textkit query
    reuses it. Built once per input epoch (t2p_spark.materialize), which
    register_views moves whenever it swaps the ``documents`` view, so a
    stale documents_tok can never be served silently (r2 ADVICE).
    force=True starts a new epoch for a ``documents`` view replaced by
    hand, so documents_tok and every relation derived from it rebuild.
    """
    if force:
        new_inputs(spark, object())
    materialize(spark, "documents_tok", lambda: spark.sql(
        "SELECT doc_id, source, n_chars, text, "
        f"{_tokens('text', 's')} AS toks, "
        f"{_xform(_tokens('text', 's'), 't -> ' + _hash60('t', 's'), 's')}"
        " AS thashes FROM documents"))


def lsh_pairs_build_sql(n_minhash: int = None) -> str:
    """The banded MinHash-LSH candidate join (Spark dialect): explode the
    2-row signature bands, equi-join on (band, key) — a bucketed shuffle,
    never an OR-join nested loop. This is the BUILD expression behind the
    ``pairs_mat`` materialized relation (ensure_lsh_pairs); the declared
    ``dedup_minhash_lsh`` query and every pair-consuming composite read
    the materialization."""
    n_mh = N_MINHASH if n_minhash is None else n_minhash
    band_keys = ", ".join(f"concat(sig_{2*i}, sig_{2*i+1})"
                          for i in range(n_mh // 2))
    # subquery form, not WITH: a CTERelation inside a cached plan defeats
    # CacheManager's canonicalized match on later view references (the
    # tokcap_mat note in prepare_textkit_views)
    bands = f"""(
          SELECT doc_id, band, key FROM (
            SELECT doc_id,
                   posexplode(array({band_keys})) AS (band, key)
            FROM sigs_mat
          )
        )"""
    return f"""
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM {bands} a JOIN {bands} b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    """


def tokcap_build_sql(cap: int = None) -> str:
    """The df-capped (doc_id, shingle) stream behind ``tokcap_mat``
    (ngram_jaccard_pairs). Subquery form, not WITH: a CTERelation inside
    a cached plan defeats CacheManager's canonicalized-plan match when
    the view is referenced from another query, silently recomputing the
    build per reference (observed r7)."""
    if cap is None:
        cap = JACCARD_MAX_DF
    return f"""
        SELECT t.doc_id, t.shingle FROM tok_mat t
        WHERE NOT EXISTS (
          SELECT 1 FROM (SELECT shingle FROM tok_mat
                         GROUP BY shingle
                         HAVING COUNT(*) > {cap}) h
          WHERE h.shingle = t.shingle)
    """


def ensure_csh3(spark: SparkSession) -> DataFrame:
    """Materialize the distinct-3-gram shingle ARRAYS (csh3_mat) once per
    corpus — the shingle relation a production contamination check
    persists next to the benchmark index. The contamination query
    referenced its shingle CTE three times (bench slice + candidate sizes
    + candidate hits) and Catalyst inlines deterministic CTEs, so the
    regex shingle build ran 3x per evaluation — and the gate is evaluated
    by the declared query, the inline funnel AND the stage build. Array
    form (not pre-exploded): the explode over cached arrays is cheap; the
    shingle construction is the expensive part."""
    sh3 = _adistinct(_shingles("toks", 3, "s"), "s")
    ensure_documents_tok(spark)
    return materialize(spark, "csh3_mat", lambda: spark.sql(
        f"SELECT doc_id, {sh3} AS sh FROM documents_tok ct"))


def ensure_minhash_sigs(spark: SparkSession,
                        n_minhash: int = None) -> DataFrame:
    """Materialize the MinHash signature relation (sigs_mat) once per
    corpus — the signature table a production dedup pipeline persists.
    Shared by the LSH pair build and the streaming near-dup screen's
    static index."""
    n_mh = N_MINHASH if n_minhash is None else n_minhash
    ensure_documents_tok(spark)
    return materialize(spark, "sigs_mat",
                       lambda: spark.sql(_minhash_select("s", n_minhash)),
                       key=(n_mh,))


def ensure_lsh_pairs(spark: SparkSession, n_minhash: int = None) -> None:
    """Materialize sigs_mat plus the banded LSH candidate pairs
    (pairs_mat) once per corpus — the signature table and candidate-pair
    table a production dedup pipeline writes as stage outputs. Keyed on
    the input epoch plus the n_minhash preset, so a swapped corpus or
    preset rebuilds both."""
    n_mh = N_MINHASH if n_minhash is None else n_minhash
    ensure_minhash_sigs(spark, n_minhash)
    materialize(spark, "pairs_mat",
                lambda: spark.sql(lsh_pairs_build_sql(n_minhash)),
                key=(n_mh,))


def run_textkit(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from t2p_spark.relational import register_views

    register_views(spark, sf_dir)
    if name == "dedup_components":
        return ensure_cc_mat(spark)
    if name in ("dedup_keep_list", "curate_attrition"):
        # materialize the iterative CC labels for the decision query
        # (curate_attrition_incr does NOT belong here: its CC labels are
        # only needed while BUILDING the keep-list stage, which
        # materialize_curation_stages does once — re-deriving CC on every
        # funnel report would defeat the incremental schedule)
        ensure_cc_mat(spark)
    prepare_textkit_views(spark, name)
    return spark.sql(spark_sql_queries()[name])


def ensure_cc_mat(spark: SparkSession) -> DataFrame:
    """The resolved CC labels (doc_id -> cluster_rep), materialized once
    per corpus as ``cc_mat`` — the cluster-assignment table a production
    dedup pipeline persists after label propagation. The labels are a pure
    function of the LSH pair set, so every consumer (the dedup_components
    driver query, dedup_keep_list, curate_attrition, the curation stage
    build) shares one resolution instead of re-running the pair collect +
    union-find / propagation loop per query (r7: it ran 4x per bench
    pass)."""
    return materialize(spark, "cc_mat", lambda: dedup_components(spark))


def cc_round(labels: DataFrame, edges: DataFrame) -> DataFrame:
    """ONE round of the distributed CC loop (un-checkpointed, so the plan
    audit can pin its join shape): min-label propagation over the edge
    list, then the pointer-jump shortcut (star-contraction) label <-
    label(label). Every label is itself a node in the same component, so
    jumping stays within it and only decreases; chains halve per round —
    O(log diameter) rounds instead of O(diameter), the difference between
    9 and 300 full-|E|-shuffle rounds on a 300-link chain at 100 TB.
    Carries old_label through for the caller's single-action fixpoint sums.
    """
    import pyspark.sql.functions as F

    nbr_min = (
        edges.join(labels, edges["dst"] == labels["doc_id"])
        .groupBy("src").agg(F.min("label").alias("nbr_label"))
    )
    prop = (
        labels.join(nbr_min, labels["doc_id"] == nbr_min["src"], "left")
        .select(
            labels["doc_id"],
            labels["label"].alias("old_label"),
            F.least(
                labels["label"], F.coalesce("nbr_label", labels["label"])
            ).alias("label"),
        )
    )
    parent = prop.select(F.col("doc_id").alias("p_id"),
                         F.col("label").alias("p_label"))
    return (
        prop.join(parent, prop["label"] == parent["p_id"], "left")
        .select(
            prop["doc_id"],
            prop["old_label"],
            F.coalesce("p_label", prop["label"]).alias("label"),
        )
    )


def dedup_components(spark: SparkSession, max_iters: int = 20,
                     pairs: Optional[DataFrame] = None,
                     driver_threshold: int = 100_000) -> DataFrame:
    """Near-dup cluster resolution: connected components over the
    MinHash-LSH candidate pairs, each doc labeled with its component's
    minimum doc_id (the canonical representative a dedup pipeline keeps).

    Spark-first iterative algorithm (GraphX-free): min-label propagation
    with pointer-jump shortcutting — per round, every node takes min(own
    label, neighbors' labels) (one shuffle-join on the edge list), then
    jumps to its label's label (one self-join), the star-contraction trick
    that collapses chains geometrically. Fixpoint test compares
    sum(label), which strictly decreases until convergence (labels only
    ever decrease through both steps; equal sum ⟹ the propagation step
    changed nothing ⟹ labels are constant per component = the minima).
    At 100 TB: O(log diameter) rounds, each shuffling |E| + |V| rows — no
    driver-side adjacency, no quadratic stage, and a 300-link chain takes
    ~9 rounds instead of 300.

    DuckDB oracle twin: WITH RECURSIVE label walk (DEDUP_COMPONENTS_ORACLE)
    — exact same fixpoint, declaratively.
    """
    import pyarrow as pa
    import pyspark.sql.functions as F

    owns_cache = pairs is not None
    if pairs is None:
        # the declared query is a scan of the ALREADY-CACHED pairs_mat
        # materialization (ensure_lsh_pairs) — re-caching it would
        # materialize the same rows a second time (r7: ~1 s per cc build)
        prepare_textkit_views(spark, "dedup_minhash_lsh")
        pairs = spark.sql(spark_sql_queries()["dedup_minhash_lsh"])
    else:
        pairs = pairs.cache()  # count + union below read it twice
    n_pairs = pairs.count()
    if n_pairs <= driver_threshold:
        # small candidate set: each distributed round costs seconds of pure
        # job latency regardless of data size; union-find on the driver is
        # exact, instant, and standard practice (near-dup pair sets are a
        # tiny fraction of the corpus). The distributed loop below is the
        # scale path for pair sets that do not fit one machine.
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        rows = pairs.collect()
        for r in rows:
            a, b = r["doc_a"], r["doc_b"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN so the root IS the canonical min doc_id
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        docs = sorted(parent)
        if owns_cache:
            pairs.unpersist()
        # an Arrow table plans as a LocalRelation: no Python worker per
        # slice whenever the cached labels are rebuilt or scanned
        return spark.createDataFrame(
            pa.table({"doc_id": pa.array(docs, pa.int64()),
                      "cluster_rep": pa.array([find(d) for d in docs],
                                              pa.int64())}),
            "doc_id long, cluster_rep long",
        )
    edges = (
        pairs.selectExpr("doc_a AS src", "doc_b AS dst")
        .union(pairs.selectExpr("doc_b AS src", "doc_a AS dst"))
        .cache()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id")).distinct()
        .withColumn("label", F.col("doc_id"))
        .cache()
    )
    prev_sum = None  # derived inside the first iteration's single action
    converged = False
    for _ in range(max_iters):
        # localCheckpoint, not cache: the shortcut references the
        # propagation result TWICE, so without truncation the logical plan
        # doubles per round and the driver OOMs stringifying it by round
        # ~15. On a fault-tolerant cluster run, prefer
        # sparkContext.setCheckpointDir + .checkpoint() (localCheckpoint
        # loses partitions on executor death).
        new_labels = cc_round(labels, edges).localCheckpoint()
        # ONE action per round: new and previous label sums together
        sums = new_labels.agg(
            F.sum("label"), F.sum("old_label")
        ).collect()[0]
        new_sum, round_prev = sums[0], sums[1]
        if prev_sum is None:
            prev_sum = round_prev
        new_labels = new_labels.drop("old_label")
        labels.unpersist()
        labels = new_labels
        if new_sum == prev_sum:  # labels only decrease; equal sum = fixpoint
            converged = True
            break
        prev_sum = new_sum
    edges.unpersist()
    if owns_cache:
        pairs.unpersist()
    if not converged:
        # a silent exit here would hand back labels that are NOT the
        # component minima (graph diameter > max_iters) and nothing
        # downstream could tell — fail loudly instead (r2 ADVICE)
        raise RuntimeError(
            f"dedup_components: label propagation did not converge in "
            f"{max_iters} rounds (graph diameter exceeds max_iters); "
            f"raise max_iters for long-chain graphs"
        )
    return labels.select(
        "doc_id", F.col("label").alias("cluster_rep")
    )


def dedup_components_oracle_sql() -> str:
    """DuckDB twin: recursive min-label walk over the same LSH pairs."""
    lsh = duckdb_oracle_queries()["dedup_minhash_lsh"]
    return f"""
        WITH RECURSIVE pairs AS ({lsh}),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL
          SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
        walk(doc_id, label) AS (
          SELECT doc_id, doc_id FROM nodes
          UNION
          SELECT e.dst, w.label
          FROM walk w JOIN edges e ON e.src = w.doc_id
        )
        SELECT doc_id, MIN(label) AS cluster_rep
        FROM walk GROUP BY doc_id
    """


_CURATION_STAGES = (
    ("cf_mat", "corpus_filter"),
    ("rep_mat", "repetition_stats"),
    ("cont_mat", "contamination_check"),
    ("keepl_mat", "dedup_keep_list"),
    ("spl_mat", "sample_split"),
)


def materialize_curation_stages(spark: SparkSession) -> None:
    """Materialize+cache each curation gate's output as its own relation —
    the incremental schedule of a 100-TB curation run, where every gate is
    a separate job writing a table and the funnel report only joins those
    tables. Built once per input epoch (t2p_spark.materialize), so
    repeated funnel reports reuse the materialized stages and any corpus
    swap rebuilds them; the local cache stands in for the stage tables a
    cluster run would persist. The CC labels (cc_mat) are derived here
    once for the keep-list stage build — NOT per funnel report."""
    # The gate builds are independent jobs; only the keep-list stage
    # depends on the CC labels. Submit the four CC-independent gates from
    # a small driver thread pool WHILE the CC resolution runs on this
    # thread, then build the keep-list — each job's task tail back-fills
    # the executors freed by the others (guide §2.6); a real curation
    # schedule runs the gate jobs concurrently too. Plans are constructed
    # on the caller's thread; only the count() actions run in the pool,
    # and only for stages this call (re)built.
    from concurrent.futures import ThreadPoolExecutor

    ensure_csh3(spark)  # the contamination gate reads csh3_mat
    sqls = spark_sql_queries()
    built = []

    def stage(view: str, qname: str) -> DataFrame:
        def build():
            built.append(view)
            return spark.sql(sqls[qname])
        return materialize(spark, view, build)

    gates = {view: stage(view, qname) for view, qname in _CURATION_STAGES
             if view != "keepl_mat"}
    with ThreadPoolExecutor(max_workers=3) as pool:
        futures = [pool.submit(gates[view].count) for view in built]
        ensure_cc_mat(spark)
        for f in futures:
            f.result()
    keepl = stage("keepl_mat", "dedup_keep_list")
    if "keepl_mat" in built:
        keepl.count()


def prepare_textkit_views(spark: SparkSession, name: str,
                          n_minhash: int = None,
                          jaccard_max_df: int = None) -> None:
    """Materialize the helper views a textkit query reads, over whatever
    ``documents`` view is currently registered (tests use synthetic ones).
    Preset callers must pass the SAME n_minhash / jaccard_max_df they gave
    spark_sql_queries — the knobs live in the materialized builds."""
    # dedup_exact and pii_scrub work on raw text, no token views needed
    if name not in ("dedup_exact", "pii_scrub"):
        ensure_documents_tok(spark)
    if name in ("dedup_minhash_lsh", "split_leakage",
                "source_overlap_matrix", "neardup_verified_pairs"):
        ensure_lsh_pairs(spark, n_minhash)
    elif name in ("contamination_check", "curate_attrition"):
        # the gate body (declared query; embedded once by the inline
        # funnel) reads the materialized shingle arrays
        ensure_csh3(spark)
    elif name in ("simhash_clusters", "simhash_neardup_pairs"):
        # cached + memoized per corpus epoch: the banded self-join reads
        # this relation twice, the 60-bit vote fold is the expensive part,
        # and both simhash queries share one build
        materialize(spark, "simhash_mat", lambda: spark.sql(
            f"SELECT doc_id, {_simhash_expr('thashes', 's')} AS simhash "
            "FROM documents_tok th"))
    elif name == "curate_attrition_incr":
        materialize_curation_stages(spark)
    elif name == "ngram_jaccard_pairs":
        cap = JACCARD_MAX_DF if jaccard_max_df is None else jaccard_max_df
        sh4 = _adistinct(_shingles("toks", 4, "s"), "s")
        spark.sql(f"""
            SELECT doc_id, sh FROM (
              SELECT doc_id, {sh4} AS sh FROM documents_tok
            ) s WHERE size(sh) > 0
        """).createOrReplaceTempView("docsh_mat")
        materialize(spark, "tok_mat", lambda: spark.sql(
            "SELECT doc_id, explode(sh) AS shingle FROM docsh_mat"))
        materialize(spark, "tokcap_mat",
                    lambda: spark.sql(tokcap_build_sql(cap)), key=(cap,))
