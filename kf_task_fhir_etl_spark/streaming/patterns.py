"""Streaming event-pattern matchers — the stream forms of
``operators/patterns.py::pattern_spans`` (q137) and
``operators/funnel.py::funnel_trajectories`` (q134), completing the
batch/stream unification story for the pattern family the way q109 did for
the stateless quality filters and q96/q37 for dedup/aggregation.

ONE per-user engine (``_match_stream``) runs TWO kernels. Each batch
operator is a running scan over a user's time-ordered history, so each
stream form is a keyed state machine: per user, a small carry (``_Spans``:
latest anchor µs and latest deny µs, 4 scalars; ``_Funnel``: the k
first-touch completion µs) advanced over each window of that user's
events, sorted by event time — O(1) state per user, never full history.
The engine owns everything else once: the intake projection, the output
and state schemas, the per-user ``match`` function and the one
``applyInPandasWithState`` call.

The ``watermark`` argument is the only mode switch (in-order evaluation is
watermark-triggered evaluation with nothing held back — the Dataflow
model):

- ``watermark=None`` — IN-ORDER. Every arriving row is released at once,
  under ``NoTimeout``, and the state is the bare carry. ORDERING CONTRACT
  (enforced by the q145/q147 source, ``read_events_stream_time_split``):
  each user's events arrive in nondecreasing event-time order ACROSS
  microbatches; same-µs rows need not be co-batched, because the kernels
  apply their strict-precedence rules to the carried state too, so an
  anchor that straddles a batch boundary at the same µs as a target still
  cannot count as "before" it. Within a microbatch, row order is free (the
  engine sorts the group's rows). This is the monotone log-segment replay
  shape (Kafka per-key ordering, time-partitioned file drops).
- ``watermark="<delay>"`` — OUT-OF-ORDER. Per-user disorder up to the
  delay is absorbed by a buffer in the state (``pend_us``/``pend_t``);
  only the prefix STRICTLY below the watermark is released to the kernel,
  and an event-time timeout wakes a user whose buffer outlives its
  arrivals. Sound because every later arrival is at or above the
  watermark (rows later than the bound are dropped — the contract every
  Spark watermark applies), so nothing that could anchor, veto or precede
  a released decision can still arrive, and emissions stay final. Flushing
  the trailing buffer of a finite replay needs the watermark to pass it
  and ONE further microbatch to fire the timeouts — the two-sentinel
  staging of ``events.read_events_stream_late_shifted``.

Scale: state is hash-partitioned by the user key into the state store —
the same shuffle key as the batch window pass, so skew reasoning carries
over; a hot user costs one sorted scan of its per-batch slice, never a
self-join. The kernels are vectorized numpy over each group's rows
(prefix maxima + one searchsorted; per-step minima), not a Python row
loop.

Reference anchor: the reference pipeline has no streaming surface
(SURVEY.md §2.8); this extends the engine's pattern family (q137/q138/
q141) to the stream side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# sentinel for "no event seen yet" — any real unix_micros beats it
_ABSENT = np.iinfo(np.int64).min

SPANS_STATE = "has_first boolean, last_first bigint, has_deny boolean, last_deny bigint"
_PENDING_STATE = ", pend_us array<bigint>, pend_t array<string>"


def _decide_spans(us, t, first: str, then: str, deny_list: list[str], seed_first, seed_deny):
    """The span decision core over a SORTED µs window with carried seeds:
    returns ``(hit mask, per-row last_first, new_first, new_deny)``.

    Prefix maxima INCLUDE row i; the strictly-before lookup rewinds to the
    last row with a smaller µs (searchsorted 'left') — the window half of
    the strict-precedence SET rule. Carried state joins under the SAME
    strict rule: a prior-window anchor at the target's exact µs is not
    "before" it, so a window boundary can never split the engines on a
    tie."""
    is_first = t == first
    # single-deny fast path (r13): np.isin pays ~30µs of set machinery per
    # call; the gates' deny lists are 0-1 types and this function runs once
    # per user per microbatch
    if not deny_list:
        is_deny = np.zeros(len(t), dtype=bool)
    elif len(deny_list) == 1:
        is_deny = t == deny_list[0]
    else:
        is_deny = np.isin(t, deny_list)
    is_then = t == then
    if not is_then.any():
        # no target in the window (the common per-microbatch case for most
        # users): only the carried seeds can change — skip the prefix
        # maxima / searchsorted machinery entirely (r13, guide §4: the
        # per-group fixed cost IS this family's bottleneck)
        fu = us[is_first]
        du = us[is_deny]
        new_first = max(seed_first, fu.max()) if len(fu) else seed_first
        new_deny = max(seed_deny, du.max()) if len(du) else seed_deny
        empty = np.zeros(len(t), dtype=bool)
        return empty, us, new_first, new_deny
    cf = np.maximum.accumulate(np.where(is_first, us, _ABSENT))
    cd = np.maximum.accumulate(np.where(is_deny, us, _ABSENT))
    k = np.searchsorted(us, us, side="left") - 1
    ki = np.clip(k, 0, None)
    last_first = np.where(k >= 0, cf[ki], _ABSENT)
    last_deny = np.where(k >= 0, cd[ki], _ABSENT)
    last_first = np.maximum(last_first, np.where(us > seed_first, seed_first, _ABSENT))
    last_deny = np.maximum(last_deny, np.where(us > seed_deny, seed_deny, _ABSENT))
    hit = (
        is_then
        & (last_first != _ABSENT)
        & ((last_deny == _ABSENT) | (last_deny <= last_first))
    )
    new_first = max(seed_first, cf[-1]) if len(cf) else seed_first
    new_deny = max(seed_deny, cd[-1]) if len(cd) else seed_deny
    return hit, last_first, new_first, new_deny


def _advance_funnel(us, ty, t: list, steps: list[str]) -> list:
    """The funnel advance core over ONE event window with carried
    first-touch µs — sequential per-step minima, each vectorized: t_i is
    fixed before t_{i+1} is derived, so a window containing several
    consecutive steps' events advances through all of them in one pass."""
    k = len(steps)
    for i in range(k):
        if t[i] != _ABSENT:
            continue  # first touch: an earlier window's min stays
        if i > 0 and t[i - 1] == _ABSENT:
            break
        cand = us[(ty == steps[i]) & (us > t[i - 1] if i > 0 else np.ones(len(us), dtype=bool))]
        if len(cand):
            t[i] = int(cand.min())
        else:
            break
    return t


class _Spans:
    """Span kernel: carry (latest anchor µs, latest deny µs); emits one
    (start_us, end_us) row per matching target, append-only."""

    mode = "append"
    state = SPANS_STATE
    fields = [("start_us", T.LongType()), ("end_us", T.LongType())]

    def __init__(self, first: str, then: str, deny: list[str]):
        self.first, self.then, self.deny = first, then, sorted(set(deny))
        self.types = sorted({first, then, *deny})

    def load(self, stored):
        if stored is None:
            return _ABSENT, _ABSENT
        has_f, lf, has_d, ld = stored[:4]
        return (np.int64(lf) if has_f else _ABSENT), (np.int64(ld) if has_d else _ABSENT)

    def dump(self, carry) -> tuple:
        f, d = carry
        return (bool(f != _ABSENT), int(f) if f != _ABSENT else 0,
                bool(d != _ABSENT), int(d) if d != _ABSENT else 0)

    def advance(self, us, t, carry):
        hit, last_first, f, d = _decide_spans(us, t, self.first, self.then, self.deny, *carry)
        out = {"start_us": last_first[hit], "end_us": us[hit]} if hit.any() else None
        return (f, d), out


class _Funnel:
    """Funnel kernel: carry the k first-touch µs; emits (reached, us1..usk)
    whenever a window advanced the user ≥1 step (update mode)."""

    mode = "update"

    def __init__(self, steps: list[str]):
        if not steps:
            raise ValueError("streaming_funnel_trajectories: empty step list")
        self.types = self.steps = list(steps)
        n = range(1, len(steps) + 1)
        self.state = ", ".join(f"t{i} bigint" for i in n)
        self.fields = [("reached", T.IntegerType()), *[(f"us{i}", T.LongType()) for i in n]]

    def load(self, stored) -> list:
        if stored is None:
            return [int(_ABSENT)] * len(self.steps)
        return [int(x) for x in stored[: len(self.steps)]]

    def dump(self, carry) -> tuple:
        return tuple(carry)

    def advance(self, us, t, carry):
        before = sum(x != _ABSENT for x in carry)
        carry = _advance_funnel(us, t, carry, self.steps)
        after = sum(x != _ABSENT for x in carry)
        if after == before:
            return carry, None
        out = {"reached": [after]}
        for i, x in enumerate(carry):
            out[f"us{i + 1}"] = [x if x != _ABSENT else None]
        return carry, out


def _match_stream(
    events: DataFrame,
    kernel,
    watermark: str | None,
    user_col: str,
    ts_col: str,
    type_col: str,
) -> DataFrame:
    """Run ``kernel`` per user over ``events`` (module docstring: the two
    modes). NULL users/timestamps are excluded at intake — the batch
    operators' contract."""
    buffered = watermark is not None
    user_type = events.schema[user_col].dataType
    cols = [
        F.col(user_col).alias("user"),
        F.col(type_col).alias("__t"),
        F.unix_micros(F.col(ts_col)).alias("__us"),
    ]
    if buffered:
        events = events.withWatermark(ts_col, watermark)
        # the watermark-tagged TIMESTAMP column must survive the projection:
        # the event-time timeout resolves its delay through it (decisions
        # are on the integer µs)
        cols.append(F.col(ts_col).alias("__ts"))
    ev = (
        events.filter(F.col(ts_col).isNotNull() & F.col(user_col).isNotNull())
        .filter(F.col(type_col).isin(*kernel.types))
        .select(*cols)
    )

    def match(key, pdfs, state: GroupState):
        stored = state.get if state.exists else None
        carry = kernel.load(stored)
        parts = [p for p in pdfs if len(p)]
        us = [p["__us"].to_numpy(dtype=np.int64) for p in parts]
        t = [p["__t"].to_numpy(dtype=object) for p in parts]
        if buffered and stored is not None and stored[-2]:
            us.insert(0, np.asarray(stored[-2], dtype=np.int64))
            t.insert(0, np.asarray(stored[-1], dtype=object))
        if not us:
            return
        us = us[0] if len(us) == 1 else np.concatenate(us)
        t = t[0] if len(t) == 1 else np.concatenate(t)
        # stable sort: equal-µs rows keep arrival order, but both kernels'
        # rules are SET rules over strictly-earlier µs, so their relative
        # order cannot change any emission. Sorted as raw numpy (r13):
        # pandas sort_values rebuilds a whole frame per group and this
        # runs once per user per microbatch (guide §4 per-group cost).
        order = np.argsort(us, kind="stable")
        us, t = us[order], t[order]
        cut = len(us)
        if buffered:
            # released prefix: strictly below the watermark (future arrivals
            # are ≥ wm, so strictness keeps the no-retraction guarantee even
            # for a future event AT the watermark)
            wm_ms = state.getCurrentWatermarkMs()
            cut = int(np.searchsorted(us, np.int64(wm_ms) * 1000, side="left"))
        out = None
        if cut:
            carry, out = kernel.advance(us[:cut], t[:cut], carry)
        row = kernel.dump(carry)
        if buffered:
            # tolist() converts in C (r13): per-element Python loops
            # dominated the no-pending path's state write
            row += (us[cut:].tolist(), [str(x) for x in t[cut:]])
            if cut < len(us):
                # wake this key when the watermark passes its oldest pending
                # event, even if no new rows arrive for it (ms floor: wm > ts
                # in ms implies wm_us > pend_us — strict release preserved)
                state.setTimeoutTimestamp(max(int(us[cut] // 1000), wm_ms + 1))
        state.update(row)
        if out is not None:
            n = len(next(iter(out.values())))
            yield pd.DataFrame({"user": np.repeat(key[0], n), **out})

    names = [name for name, _ in kernel.fields]
    out_schema = T.StructType(
        [T.StructField("user", user_type)]
        + [T.StructField(name, dtype) for name, dtype in kernel.fields]
    )
    out = ev.groupBy("user").applyInPandasWithState(
        match,
        outputStructType=out_schema,
        stateStructType=kernel.state + (_PENDING_STATE if buffered else ""),
        outputMode=kernel.mode,
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout if buffered else GroupStateTimeout.NoTimeout
        ),
    )
    return out.select(F.col("user").alias(user_col), *names)


def streaming_pattern_spans(
    events: DataFrame,
    first: str,
    then: str,
    deny: list[str] | None = None,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    watermark: str | None = None,
) -> DataFrame:
    """Matched (user, start_us, end_us) spans over an event STREAM, with
    pattern_spans' exact batch semantics: every ``then`` event pairs with
    its latest strictly-earlier ``first`` event and survives only if no
    ``deny`` event falls strictly inside the open µs interval. Emits one
    row per matching ``then`` event, append-only — duplicates when
    several targets share a span, exactly like the batch window pass.

    ``watermark=None`` needs the module's ordering contract and keeps 4
    scalars of state per user; a delay (e.g. ``"3 hours"``) absorbs
    per-user disorder up to it in a state buffer and drops rows later than
    the bound. Either way the decisions are q137's, including
    strict-precedence µs ties across batch and release boundaries."""
    kernel = _Spans(first, then, deny or [])
    return _match_stream(events, kernel, watermark, user_col, ts_col, type_col)


def streaming_funnel_trajectories(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    watermark: str | None = None,
) -> DataFrame:
    """First-touch funnel trajectories over an event STREAM — the stream
    form of ``operators/funnel.py::funnel_trajectories``: step i+1
    completes when an event of its type lands STRICTLY after the carried
    t_i. Emits in UPDATE mode: one row per user per microbatch in which
    the user advanced ≥1 step — (user, reached, us1..usk). ``reached`` is
    monotone and us_j never changes once set (first touch = earliest,
    since releases happen in event-time order), so the latest row per
    user (max ``reached``) is the final trajectory; aggregate those for
    the funnel report.

    ``watermark`` as in ``streaming_pattern_spans``: None keeps k bigints
    of state per user under the ordering contract, a delay buffers the
    disorder inside the bound. An empty ``steps`` raises ``ValueError``."""
    kernel = _Funnel(steps)
    return _match_stream(events, kernel, watermark, user_col, ts_col, type_col)
