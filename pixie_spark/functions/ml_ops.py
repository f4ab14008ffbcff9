"""ML functions.

Reference: src/carnot/funcs/builtins/ml_ops.cc:32-39 with kernels in
src/carnot/exec/ml/{kmeans,coreset,sampling}.cc — _text_embedding (ONNX
transformer), _encode_sentence_piece, _kmeans_fit/_kmeans_inference,
reservoir 'sample' UDA.

Spark-first re-expression:
- kmeans: Lloyd's iterations as DataFrame aggregations — centroids are a
  small broadcast literal each round; assignment is a native argmin
  expression. Linear scans, no UDF in the assignment hot path.
- embedding/sentencepiece: the Arrow-batched inference UDFs are REAL and
  CI-executed — model files route by extension to onnxruntime/
  sentencepiece when present, or to the pure-numpy encoder session and
  tiny-vocab tokenizer (np_encoder.py) that implement the same
  interface, so tokenize/pad/mask/forward/mean-pool runs either way.
  Without any model file, text_embedding falls back to an all-native
  hashed random-projection BOW (a real JL sketch, no UDF).
- sample: seeded uniform sampling (df.sample) / per-group reservoir via
  rank over a seeded hash — deterministic, shuffle-free pre-aggregation.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pixie_spark.materialize import materialize


def _sq_dist(vec: Column, center: list[float]) -> Column:
    lit = F.array(*[F.lit(float(v)) for v in center])
    diff = F.zip_with(vec, lit, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b))
    return F.aggregate(diff, F.lit(0.0), lambda acc, v: acc + v)


def kmeans_assign(vec_col: Column, centroids: list[list[float]]) -> Column:
    """argmin_k ||x - c_k||² as a native expression (no UDF).

    Ref: _kmeans_inference (ml_ops.cc). Centroids ride along as literals
    — the broadcast variable of the DataFrame world. Distances go into
    an array and argmin = array_position(min) so the expression stays
    LINEAR in k (a when(d<best).otherwise(best) fold doubles the tree
    per centroid — 2^k codegen blowup).
    """
    dists = F.array(*[_sq_dist(vec_col, c) for c in centroids])
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    max_iter: int = 10,
    seed: int = 42,
    dim: int | None = None,
    weight_col: str | None = None,
) -> list[list[float]]:
    """Lloyd's algorithm over DataFrames (ref: _kmeans_fit + kmeans.cc).

    Each iteration: one map (assignment expression) + one groupBy
    (centroid means via per-dimension avg) — a single shuffle of k rows
    worth of state. Init: deterministic sample of k rows.

    ``weight_col`` fits WEIGHTED k-means (centroid = Σw·x / Σw) — the
    form a coreset requires: lightweight_coreset oversamples far-from-
    mean points by design, and only the 1/(m·q) weights undo that bias
    (unweighted Lloyd's on a coreset drags centroids toward outliers).
    """
    first = df.select(vec_col).first()
    if first is None:
        return []
    if dim is None:
        dim = len(first[0])
    # flatten once: assignment as plain arithmetic over d0..d{dim-1}
    # (HOF-based per-centroid distances recompile enormous lambda trees
    # every iteration — measured 6× slower)
    wcols = [F.col(weight_col).cast("double").alias("__w")] if weight_col else []
    flat = df.select(
        *[F.element_at(vec_col, i + 1).cast("double").alias(f"d{i}") for i in range(dim)],
        *wcols,
    ).transform(materialize)
    dcols = [f"d{i}" for i in range(dim)]

    # Init: deterministic farthest-point traversal (maximin, Gonzalez
    # 1985) — first point by seeded-hash min, then k-1 argmax-of-min-
    # distance picks, each a TakeOrdered(1) job over the checkpointed
    # flat frame. Hash-ordered init (the previous scheme) routinely put
    # two seeds in one cluster basin, and Lloyd's cannot split a basin —
    # the coreset transfer test caught exactly that collapse. k-1 extra
    # tiny jobs, each collecting ONE row; still deterministic.
    c0 = flat.orderBy(F.xxhash64(F.struct(*dcols), F.lit(seed))).limit(1).collect()
    centroids = [[float(c0[0][c]) for c in dcols]]
    while len(centroids) < k:
        mind = ",".join(
            " + ".join(f"(d{i} - ({c[i]!r})) * (d{i} - ({c[i]!r}))" for i in range(dim))
            for c in centroids
        )
        far = (
            flat.selectExpr(*dcols, f"array_min(array({mind})) AS __mind")
            .orderBy(F.desc("__mind"))
            .limit(1)
            .collect()
        )
        if not far or float(far[0]["__mind"]) == 0.0:
            break  # fewer distinct points than clusters → clamp
        centroids.append([float(far[0][c]) for c in dcols])
    k = len(centroids)
    for _ in range(max_iter):
        # The whole assignment is assembled as ONE SQL string: k·dim
        # squared-diff terms built as Column objects cost ~k·dim py4j
        # round trips PER ITERATION (measured 76 s for 10 iterations at
        # k=8, dim=64 — planning, not compute); the string form is one
        # round trip. argmin = array_position(array_min) keeps the
        # expression linear in k (a when(d<best) fold doubles the tree
        # per centroid), and ties resolve to the smallest index exactly
        # like the previous fold.
        dists = ",".join(
            " + ".join(f"(d{i} - ({c[i]!r})) * (d{i} - ({c[i]!r}))" for i in range(dim))
            for c in centroids
        )
        assigned = flat.selectExpr("*", f"array({dists}) AS __dists").selectExpr(
            "*",
            "CAST(array_position(__dists, array_min(__dists)) - 1 AS INT) AS cluster",
        )
        if weight_col:
            aggs = [
                (F.sum(F.col(f"d{i}") * F.col("__w")) / F.sum("__w")).alias(f"d{i}")
                for i in range(dim)
            ]
        else:
            aggs = [F.avg(f"d{i}").alias(f"d{i}") for i in range(dim)]
        rows = assigned.groupBy("cluster").agg(*aggs).collect()
        new_centroids = list(centroids)
        for r in rows:
            new_centroids[r["cluster"]] = [r[f"d{i}"] for i in range(dim)]
        if all(
            abs(a - b) < 1e-9
            for oldc, newc in zip(centroids, new_centroids)
            for a, b in zip(oldc, newc)
        ):
            centroids = new_centroids
            break
        centroids = new_centroids
    return centroids


def kmeans_inference(df: DataFrame, centroids: list[list[float]], vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("cluster", kmeans_assign(F.col(vec_col), centroids))


def lightweight_coreset(
    df: DataFrame,
    m: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Lightweight coreset for k-means (Bachem, Lucic & Krause, KDD 2018)
    — the Spark-first re-expression of the reference's coreset kernel
    (src/carnot/exec/ml/coreset.cc, used by ml_ops.cc's kmeans UDA to
    bound state): a small weighted point set whose weighted k-means cost
    approximates the full corpus's for ANY set of centers.

    Sampling distribution q(x) = ½·1/n + ½·d(x,μ)²/Σd(·,μ)² (mean μ of
    the data; uniform term covers dense regions, distance term covers
    outliers). Weight w(x) = 1/(m·q(x)) makes Σ_coreset w·cost an
    unbiased estimate of Σ_full cost under iid sampling; we draw the m
    points WITHOUT replacement via deterministic Gumbel-top-m on
    log q(x) + G_x with per-row Gumbel noise derived from
    xxhash64(id, seed) — reproducible across runs and engines, at the
    cost of a small (O(m/n)) bias vs the paper's iid-with-replacement
    draw. (The reference's tree coreset differs in construction but
    serves the same role: fixed-memory summarization for clustering.)

    Plan at 100 TB: two full scans, both map-side-combined global
    aggregates (mean, then Σd²) collecting ONE row each; scoring is a
    native arithmetic expression assembled as a single SQL string (the
    kmeans_fit lesson: dim Column-object terms cost dim py4j round
    trips); selection is orderBy+limit → TakeOrderedAndProject
    (per-partition heaps, never a global sort). Nothing wide ever
    shuffles — output is m rows.

    Output: (id_col, vec_col, q, weight).
    """
    first = df.select(vec_col).first()
    if first is None:
        return df.sparkSession.createDataFrame(
            [], f"{id_col} long, {vec_col} array<double>, q double, weight double"
        )
    if dim is None:
        dim = len(first[0])
    flat = df.select(
        F.col(id_col),
        F.col(vec_col),
        *[F.element_at(vec_col, i + 1).cast("double").alias(f"d{i}") for i in range(dim)],
    ).transform(materialize)  # mean pass + score pass share the flatten
    mu_row = flat.agg(*[F.avg(f"d{i}").alias(f"d{i}") for i in range(dim)]).first()
    mu = [float(mu_row[f"d{i}"]) for i in range(dim)]
    sq = " + ".join(f"(d{i} - ({mu[i]!r})) * (d{i} - ({mu[i]!r}))" for i in range(dim))
    scored = flat.selectExpr(id_col, vec_col, f"{sq} AS sqd")
    tot = scored.agg(
        F.sum("sqd").alias("tot"), F.count(F.lit(1)).alias("n")
    ).first()
    total, n = float(tot["tot"]), int(tot["n"])
    if total <= 0.0:
        # all points identical: q degenerates to uniform
        q = F.lit(1.0 / n)
    else:
        q = 0.5 / F.lit(float(n)) + 0.5 * F.col("sqd") / F.lit(total)
    u = (F.pmod(F.xxhash64(id_col, F.lit(seed)), F.lit(2**52)) + 0.5) / F.lit(float(2**52))
    gumbel_key = F.log(q) - F.log(-F.log(u))
    return (
        scored.withColumn("q", q)
        .withColumn("__key", gumbel_key)
        .orderBy(F.desc("__key"))
        .limit(m)
        .select(
            id_col,
            vec_col,
            "q",
            (F.lit(1.0) / (F.lit(float(m)) * F.col("q"))).alias("weight"),
        )
    )


def kmeans_cost(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    weight_col: str | None = None,
) -> float:
    """Σ (w·) min_k ||x-c_k||² — the quantization cost a coreset is
    contracted to preserve. Native argmin-distance expression + one
    global agg."""
    d = F.array(*[_sq_dist(F.col(vec_col), c) for c in centroids])
    cost = F.array_min(d)
    if weight_col is not None:
        cost = cost * F.col(weight_col)
    return float(df.agg(F.sum(cost)).first()[0])


def sample_per_group(df: DataFrame, group_cols: list[str], n: int, seed: int = 42) -> DataFrame:
    """Deterministic per-group reservoir-style sample: rank rows by a
    seeded hash of the whole row, keep n per group (ref: sampling.cc
    reservoir UDA). One shuffle on the group keys."""
    w = Window.partitionBy(*group_cols).orderBy(F.xxhash64(F.struct(*df.columns), F.lit(seed)))
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= n).drop("_rn")


# --- model kernels: real ONNX/sentencepiece path when the libs exist, -------
# --- deterministic stub otherwise (libraries unavailable in this container) --

_EMBED_DIM = 32


def have_onnxruntime() -> bool:
    try:
        import onnxruntime  # noqa: F401

        return True
    except ImportError:
        return False


def have_sentencepiece() -> bool:
    try:
        import sentencepiece  # noqa: F401

        return True
    except ImportError:
        return False


# per-worker model cache: an executor python process loads each model ONCE
# and reuses it across Arrow batches — reloading per batch would dominate
# inference time. Keyed by path so several models can coexist.
_MODEL_CACHE: dict = {}


def _load_sp(tokenizer_path: str, engine: str = "auto"):
    """Tokenizer by extension: ``*.json`` → the pure-numpy
    TinyVocabTokenizer (same ``encode()`` surface — lets the inference
    UDFs run in lib-less CI), anything else → real sentencepiece, or
    the pure-Python MicroSentencePiece when ``engine='micro'`` (opted
    in by the caller — same .model artifact, unigram Viterbi)."""
    key = ("sp", tokenizer_path, engine)
    if key not in _MODEL_CACHE:
        if tokenizer_path.endswith(".json"):
            from pixie_spark.functions.np_encoder import TinyVocabTokenizer

            _MODEL_CACHE[key] = TinyVocabTokenizer(tokenizer_path)
        elif engine == "micro":
            from pixie_spark.functions.sp_model import MicroSentencePiece

            _MODEL_CACHE[key] = MicroSentencePiece(model_file=tokenizer_path)
        else:
            import sentencepiece as spm

            _MODEL_CACHE[key] = spm.SentencePieceProcessor(model_file=tokenizer_path)
    return _MODEL_CACHE[key]


def _load_onnx(model_path: str):
    """Encoder session by extension: ``*.npz`` → NumpyEncoderSession
    (ort.InferenceSession drop-in: get_inputs()/run()), else real
    onnxruntime."""
    key = ("onnx", model_path)
    if key not in _MODEL_CACHE:
        if model_path.endswith(".npz"):
            from pixie_spark.functions.np_encoder import NumpyEncoderSession

            _MODEL_CACHE[key] = NumpyEncoderSession(model_path)
        else:
            import onnxruntime as ort

            # executors run many task threads; keep ORT single-threaded per
            # session so Spark's parallelism, not ORT's, owns the cores
            opts = ort.SessionOptions()
            opts.intra_op_num_threads = 1
            opts.inter_op_num_threads = 1
            _MODEL_CACHE[key] = ort.InferenceSession(
                model_path, opts, providers=["CPUExecutionProvider"]
            )
    return _MODEL_CACHE[key]


def _onnx_embed_udf(model_path: str, tokenizer_path: str, max_len: int = 128):
    """pandas_udf running a transformer encoder via onnxruntime with mean
    pooling — the real _text_embedding (ml_ops.cc uses an embedded ONNX
    sentence encoder). Arrow-batched: one session.run per pandas batch."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<float>")
    def embed(texts):
        import pandas as pd

        sp = _load_sp(tokenizer_path)
        sess = _load_onnx(model_path)
        ids = [sp.encode(t or "")[:max_len] for t in texts]
        width = max(1, max((len(i) for i in ids), default=1))
        input_ids = np.zeros((len(ids), width), dtype=np.int64)
        mask = np.zeros((len(ids), width), dtype=np.int64)
        for r, seq in enumerate(ids):
            input_ids[r, : len(seq)] = seq
            mask[r, : len(seq)] = 1
        feeds = {"input_ids": input_ids, "attention_mask": mask}
        feeds = {k: v for k, v in feeds.items() if k in {i.name for i in sess.get_inputs()}}
        (hidden,) = sess.run(None, feeds)[:1]  # (batch, seq, dim)
        if hidden.ndim == 3:  # mean-pool over real tokens
            denom = np.maximum(mask.sum(axis=1, keepdims=True), 1)
            hidden = (hidden * mask[:, :, None]).sum(axis=1) / denom
        return pd.Series([row.astype(np.float32).tolist() for row in hidden])

    return embed


def text_embedding(col: Column, model_path: str | None = None, tokenizer_path: str | None = None) -> Column:
    """_text_embedding (ml_ops.cc:32-39 — ONNX transformer encoder).

    With ``model_path`` + ``tokenizer_path`` and onnxruntime/sentencepiece
    installed, runs REAL inference via an Arrow-batched pandas_udf with a
    per-worker session cache.

    Without a model path (this container ships no inference libs) the
    default is NOT a fake — it is a hashed random-projection bag-of-words
    embedding: dimension i is Σ over words of xxhash64(word, i)/2^63,
    L2-normalized. That is exactly a Johnson-Lindenstrauss sketch of the
    BOW count vector under a dense pseudo-random ±-valued projection
    (the hashing trick), so cosine(emb_a, emb_b) converges on the BOW
    cosine of the texts — word-overlapping documents land near each
    other, making downstream ANN / kmeans / near-dup behave like they
    would with a learned encoder (weaker semantics, real geometry).
    Deterministic across runs/partitionings/engines; all-native
    expressions, no UDF.
    """
    if model_path is not None:
        tok = tokenizer_path or model_path
        # npz/json models run on the built-in numpy session/tokenizer —
        # no external libs involved; only genuine onnx/sp files gate.
        need_ort = not model_path.endswith(".npz")
        need_sp = not tok.endswith(".json")
        if (need_ort and not have_onnxruntime()) or (need_sp and not have_sentencepiece()):
            raise ImportError(
                "text_embedding(model_path=...) needs onnxruntime + "
                "sentencepiece; call without model_path for the built-in "
                "hashed random-projection embedding, or pass an .npz "
                "encoder + .json vocab for the numpy session"
            )
        return _onnx_embed_udf(model_path, tok)(col)
    words = F.filter(F.split(col, r"\s+"), lambda w: w != "")
    # one pass over words; acc = running 32-dim sum (zip_with keeps the
    # whole accumulator update in a single HOF step per word)
    sums = F.aggregate(
        words,
        F.array_repeat(F.lit(0.0), _EMBED_DIM),
        lambda acc, w: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(_EMBED_DIM - 1)),
            lambda a, i: a + F.xxhash64(w, i) / F.lit(float(2**63)),
        ),
    )
    norm = F.sqrt(F.aggregate(sums, F.lit(0.0), lambda a, x: a + x * x))
    # empty text → zero vector (norm clamps to 1 to avoid 0/0)
    return F.transform(
        sums, lambda x: (x / F.greatest(norm, F.lit(1e-12))).cast("float")
    )


def encode_sentence_piece(
    col: Column, model_path: str | None = None, engine: str = "auto"
) -> Column:
    """_encode_sentence_piece (ml_ops.cc): text → token ids.

    With ``model_path`` + the sentencepiece lib, real tokenization via an
    Arrow-batched pandas_udf (per-worker processor cache); a ``.json``
    vocab runs the built-in TinyVocabTokenizer through the SAME udf.
    ``engine="micro"`` opts into the pure-Python unigram-Viterbi engine
    (functions/sp_model.py) reading the SAME ``.model`` artifact —
    opt-in only: the default stays a LOUD ImportError without the lib so
    a prod config typo can never silently switch tokenizers.
    Without ``model_path``, a deterministic fake: word-hash ids mod 32000."""
    if model_path is not None:
        if engine not in ("auto", "micro"):
            raise ValueError(f"engine must be 'auto' or 'micro', got {engine!r}")
        if (
            engine == "auto"
            and not model_path.endswith(".json")
            and not have_sentencepiece()
        ):
            raise ImportError(
                "encode_sentence_piece(model_path=...) needs sentencepiece; "
                "call without model_path for the deterministic stub, pass a "
                ".json vocab for the built-in tokenizer, or opt into "
                "engine='micro' for the pure-Python unigram engine"
            )
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("array<int>")
        def encode(texts):
            import pandas as pd

            sp = _load_sp(model_path, engine=engine)
            return pd.Series([sp.encode(t or "") for t in texts])

        return encode(col)
    words = F.filter(F.split(col, r"\s+"), lambda w: w != "")
    return F.transform(words, lambda w: F.pmod(F.xxhash64(w), F.lit(32000)).cast("int"))
