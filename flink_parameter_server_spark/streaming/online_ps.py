"""Online parameter server on keyed streaming state (SURVEY.md §2 A1
online form, B1 online MF, B8 online PA, D21).

Reference: `FlinkParameterServer.scala#transform` wires a *cyclic*
dataflow — workers pull/push against parameter servers over an iteration
edge, per-record sequential updates [C-high]. Spark forbids cycles; the
equivalent is to key the stream by param_id and co-locate the server
state with the worker logic in a stateful grouped-map operator: pull =
read local state, push = write it. No round-trip exists because the
record is already where its parameter lives — the shuffle performs the
reference's `paramId % psParallelism` routing [C-high].

Implementation note: Spark 4's `transformWithStateInPandas` is the
preferred API, but its driver worker needs a working google.protobuf
(absent in this container), so the engine uses the Arrow-based
`applyInPandasWithState` — identical keyed-state semantics (value state
per key, update-mode emission); swapping to transformWithStateInPandas
is a mechanical change when the environment allows.

Both online learners of the reference run as ONE stream keyed by
parameter id, with one state schema `(vec, n)`:

- MF (`matrix/factorization/PSOnlineMatrixFactorization` [C-high]):
  ratings keyed by item id (ids are non-negative); state = the item
  factor vector; per record, in seq order within a micro-batch, a TRUE
  sequential SGD step — the semantics the batch trainer (ps/mf.py)
  intentionally approximates with mini-batch epochs.
- PA-I binary (`PassiveAggressiveParameterServer#transformBinary`
  [C-high]): every instance keyed by the single model id `PA_KEY` (-1,
  outside the item-id range); state = the weight vector and the
  cumulative update count.

Spark allows one `applyInPandasWithState` per query, so the one update
function dispatches on the key. The input stays narrow — `(key, seq,
user, rating, x)`, PA's label riding in `rating` (its training target, as
the rating is MF's), `user` null on PA rows, `x` null on MF rows — because
the Python operator's cost grows with every column it ships per group: a
wide form with a string family column and a separate label column took
the entry from 17.0 to 20.7 s at sf0.1 on 4 cores. One stream pays the
fixed per-query and per-state-store cost of a Python stateful micro-batch
once instead of once per family.

Scale: state is sharded by key across partitions exactly like PS
instances; RocksDB state store + changelog checkpointing are the
production knobs; per-batch work is bounded by source rate control (A7,
maxFilesPerTrigger / maxOffsetsPerTrigger).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.hashing import KNUTH, MOD
from ..ps.mf import FACTOR_HI, FACTOR_LO, ITEM_SEED, K, LR, USER_SEED
from ..ps.pa import C, N_FEATURES, W_HI, W_LO, W_SEED

PA_KEY = -1  # PA's single model key, outside the (non-negative) item-id range
STATE_SCHEMA = StructType(
    [StructField("vec", ArrayType(DoubleType())), StructField("n", LongType())]
)
OUTPUT_SCHEMA = StructType(
    [
        StructField("family", StringType()),
        StructField("key", LongType()),
        StructField("n_updates", LongType()),
        StructField("vals", ArrayType(DoubleType())),
    ]
)
_OUT_COLS = OUTPUT_SCHEMA.fieldNames()
_OUT_INDEX = pd.RangeIndex(1)
# factor-dimension index row, hoisted out of the per-key update path
# (one per executor import, not one per group)
_JS = np.arange(K, dtype=np.int64)


def _factor(idx: int, j: int, seed: int) -> float:
    h = ((idx + 1) * KNUTH + (j + 1) * 40503 + seed * 97) % MOD
    return FACTOR_LO + h / MOD * (FACTOR_HI - FACTOR_LO)


def _user_vec(user: int) -> list[float]:
    return [_factor(user, j, USER_SEED) for j in range(K)]


def _item_vec(item: int) -> list[float]:
    return [_factor(item, j, ITEM_SEED) for j in range(K)]


def _pa_w0(n_features: int) -> list[float]:
    """Scalar mirror of pa.w0_array (factor_element(0, f, W_SEED) per f)."""
    return [
        W_LO + (((0 + 1) * KNUTH + (j + 1) * 40503 + W_SEED * 97) % MOD) / MOD * (W_HI - W_LO)
        for j in range(n_features)
    ]


def _mf_steps(v: np.ndarray, users: np.ndarray, ratings: np.ndarray) -> np.ndarray:
    """Sequential SGD on one item vector. The user-vector hash init is
    precomputed for the whole batch (pure arithmetic); the recurrence
    itself is sequential (v_{t+1} depends on v_t), so only the K-dim
    inner ops are vectorized."""
    hs = ((users[:, None] + 1) * KNUTH + (_JS[None, :] + 1) * 40503 + USER_SEED * 97) % MOD
    U = FACTOR_LO + hs / MOD * (FACTOR_HI - FACTOR_LO)
    for u, r in zip(U, ratings):
        e = r - float(u @ v)
        v = v + LR * e * u
    return v


def _pa_steps(w: np.ndarray, ys: np.ndarray, xs: np.ndarray) -> np.ndarray:
    """Sequential PA-I against the CURRENT weights:
    tau_t = min(C, max(0, 1 - y_t * <w_t, x_t>) / ||x_t||^2);
    w_{t+1} = w_t + tau_t * y_t * x_t."""
    for y, x in zip(ys, xs):
        loss = max(0.0, 1.0 - y * float(w @ x))
        tau = min(C, loss / float(x @ x))
        w = w + tau * y * x
    return w


def _online_ps_update(key, pdf_iter, state: GroupState):
    """Per-parameter-id sequential step, PS server + worker logic fused on
    co-located state (pull = state.get, push = state.update)."""
    pid = key[0]
    # Materialize the whole micro-batch for this key before ordering it: a
    # key whose rows span several Arrow batches (> arrow.maxRecordsPerBatch)
    # must still see its records in global seq order. This runs once per
    # key (~19k mostly one-row groups per micro-batch at sf0.1), so only
    # the arrays read are reordered, never the pandas frame.
    chunks = list(pdf_iter)
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    rows = len(pdf)
    order = slice(None)
    if rows > 1:
        order = np.argsort(pdf["seq"].to_numpy(dtype=np.int64), kind="stable")
    target = pdf["rating"].to_numpy(dtype=np.float64)[order]
    if pid == PA_KEY:
        family = "pa"
        w, n = state.get if state.exists else (_pa_w0(N_FEATURES), 0)
        xs = np.stack(pdf["x"].to_numpy()[order])
        vec = _pa_steps(np.asarray(w, dtype=np.float64), target, xs)
        n += rows  # cumulative over the model's life
    else:
        family = "mf"
        v = state.get[0] if state.exists else _item_vec(pid)
        users = pdf["user"].to_numpy(dtype=np.int64)[order]
        vec = _mf_steps(np.asarray(v, dtype=np.float64), users, target)
        n = rows  # updates in this micro-batch
    vals = [float(x) for x in vec]  # plain floats: numpy scalars break state pickling
    state.update((vals, n))
    # one object row is the cheapest frame pandas builds and the output
    # serializer concatenates (a dict of lists costs ~3x per group)
    out = np.empty((1, len(_OUT_COLS)), dtype=object)
    out[0, 0], out[0, 1], out[0, 2], out[0, 3] = family, pid, n, vals
    yield pd.DataFrame(out, index=_OUT_INDEX, columns=_OUT_COLS, copy=False)


def mf_records(ratings: DataFrame) -> DataFrame:
    """(seq, user, item, rating) -> the stream's narrow input, keyed by item."""
    return ratings.select(
        F.col("item").cast("long").alias("key"),
        F.col("seq").cast("long").alias("seq"),
        F.col("user").cast("long").alias("user"),
        F.col("rating").cast("double").alias("rating"),
        F.lit(None).cast("array<double>").alias("x"),
    )


def pa_records(insts: DataFrame) -> DataFrame:
    """(seq, y, x) -> the stream's narrow input, keyed by PA_KEY; the
    label travels in `rating`."""
    return insts.select(
        F.lit(PA_KEY).cast("long").alias("key"),
        F.col("seq").cast("long").alias("seq"),
        F.lit(None).cast("long").alias("user"),
        F.col("y").cast("double").alias("rating"),
        F.col("x").cast("array<double>").alias("x"),
    )


def online_ps_stream(records: DataFrame) -> DataFrame:
    """records: streaming DF (key, seq, user, rating, x) built by
    mf_records / pa_records -> one row per updated key after each
    micro-batch (Update mode): (family, key, n_updates, vals), vals the
    key's item factor vector ('mf') or weight vector ('pa').

    The reference updates PA weights ASYNCHRONOUSLY from concurrent
    workers — no defined global record order [C-high]. Any deterministic
    per-record trajectory needs a total order over records, and every
    record touches every (dense) feature, so the faithful deterministic
    form is the psParallelism=1 trajectory: one model key. Sparse-feature
    workloads shard naturally (key = feature block); rate control (A7)
    bounds per-batch work either way."""
    return records.groupBy("key").applyInPandasWithState(
        _online_ps_update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def pa_sequential_reference(insts: list[tuple[int, float, list[float]]]) -> list[float]:
    """Driver-side reference (plain Python) for tests: insts as
    (seq, y, x) processed in seq order against one weight vector."""
    w = _pa_w0(N_FEATURES)
    for _seq, y, x in sorted(insts, key=lambda r: r[0]):
        margin = sum(a * b for a, b in zip(w, x))
        loss = max(0.0, 1.0 - y * margin)
        tau = min(C, loss / sum(v * v for v in x))
        w = [wi + tau * y * xi for wi, xi in zip(w, x)]
    return w


def sequential_reference(ratings: list[tuple[int, int, int, float]]) -> dict[int, list[float]]:
    """Driver-side reference implementation (same math, plain Python) for
    tests: ratings as (seq, user, item, rating), processed in seq order
    per item."""
    state: dict[int, list[float]] = {}
    for seq, user, item, rating in sorted(ratings):
        v = state.get(item) or _item_vec(item)
        u = _user_vec(user)
        e = rating - sum(a * b for a, b in zip(u, v))
        state[item] = [vi + LR * e * ui for vi, ui in zip(v, u)]
    return state
