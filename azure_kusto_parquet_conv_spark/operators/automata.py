"""One transition rule per stateful kernel, shared by batch and stream.

Three KQL operators walk each key's rows in order with a small
automaton: ``scan``, ``evaluate sequence_detect`` and the
``row_window_session`` extend. Each has a batch ``mapInPandas`` kernel
(kql.py) and an ``applyInPandasWithState`` twin (streaming/events.py).
Both call the SAME pure transition function from this module, so the
Structured Streaming contract (a stream fed a gap-free, time-ordered
prefix gives the batch answer; Armbrust et al., SIGMOD'18) holds by
construction, not by review.

Each automaton factory returns ``(init, step)``: the idle state and
the transition ``step(state, row) -> (state, emit)``, which never
mutates ``state``; ``emit`` is None when the row emits nothing. The
batch driver is ``walk_partition``, the stream driver
``watermark_buffer``; ``step_mask_sql`` folds the step predicates into
one Catalyst-computed bitmask, so the automata walk ints.
"""

from __future__ import annotations

import json


def step_mask_sql(preds) -> str:
    """SQL of a BIGINT whose bit ``i`` is set when predicate ``i`` (SQL
    text) is true; a null predicate, or a ``None`` entry (a predicate
    the kernel evaluates itself), leaves its bit clear."""
    terms = [f"CASE WHEN CAST(({p}) AS BOOLEAN) THEN {1 << i} ELSE 0 END"
             for i, p in enumerate(preds) if p is not None]
    return f"CAST({' + '.join(terms) or '0'} AS BIGINT)"


def scan(n_steps: int, hit, fresh=None, assign=None):
    """The ``scan`` automaton: ONE active sequence per key, greedy.

    State is ``(k, mid, vars)``: ``k`` steps matched (0 idle, n_steps
    completed but still extendable at the last step), ``mid`` the
    0-based match id, ``vars`` the declared state (a dict). Per row, in
    priority order: ADVANCE to step ``k``; else EXTEND step ``k - 1``
    (Kusto's repeated-step match, the cumulative idiom); else, when
    completed, RESTART at step 0 against ``fresh`` state with the next
    match id. ``hit(j, row, vars)`` is step ``j``'s predicate;
    ``assign(j, row, vars)`` returns the vars after step ``j``'s
    assignments (it must copy, not mutate). A matching row emits
    ``(j, mid, vars)`` with the vars after its assignments."""
    fresh = {} if fresh is None else fresh

    def step(state, row):
        k, mid, st = state
        if k < n_steps and hit(k, row, st):
            j, k = k, k + 1
        elif k > 0 and hit(k - 1, row, st):
            j = k - 1
        elif k == n_steps and hit(0, row, fresh):
            j, k, mid, st = 0, 1, mid + 1, fresh
        else:
            return state, None
        if assign is not None:
            st = assign(j, row, st)
        return (k, mid, st), (j, mid, st)
    return (0, 0, fresh), step


def sequence_detect(n_steps: int, max_gap: int, max_window: int):
    """The ``sequence_detect`` automaton: latest-start greedy.

    State is ``(k, first, prev, times)``: ``k`` steps matched, the
    sequence's first and last step times and every step's time. A row
    is ``(t, mask)``: event time and step bitmask. It ADVANCES to step
    ``k`` when its bit is set, ``t - prev <= max_gap`` and
    ``t - first <= max_window``; else ANY step-0 match (stray or
    constraint-violating) restarts the sequence there. Gap and window
    are monotone in the start time, so a later start only loosens them.
    Completing the last step emits the step times and returns to idle."""
    def step(state, row):
        k, first, prev, tss = state
        t, m = row
        if k and m >> k & 1 and t - prev <= max_gap \
                and t - first <= max_window:
            k, prev, tss = k + 1, t, (*tss, t)
        elif m & 1:
            k, first, prev, tss = 1, t, t, (t,)
        else:
            return state, None
        if k == n_steps:
            return (0, first, prev, ()), tss
        return (k, first, prev, tss), None
    return (0, 0, 0, ()), step


def row_window_session(max_from_first, max_between):
    """The ``row_window_session`` automaton.

    State is ``(first, first_value, prev)``. A row is ``(v, restart,
    value, ...)``: ``v`` the numeric position (µs for times), ``value``
    what a session start reports. A session starts at the key's first
    row, when ``restart`` is true, when ``v - prev > max_between`` or
    when ``v - first > max_from_first``; every row emits its session's
    first ``value``. A null ``v`` (None or NaN) emits nothing and
    resets the state, so the next row starts a fresh session."""
    init = (None, None, None)

    def step(state, row):
        v = row[0]
        if v is None or v != v:
            return init, None
        first, first_value, prev = state
        if (first is None or row[1] or v - prev > max_between
                or v - first > max_from_first):
            first, first_value = v, row[2]
        return (first, first_value, v), first_value
    return init, step


def _key_starts(pdf, key_cols, last):
    """Per row of ``pdf``: does its key differ from the previous row's?
    Row 0 compares with ``last``, the previous batch's final key. Nulls
    (None, NaN, NaT) are one key, like groupBy's null group."""
    import numpy as np
    import pandas as pd

    n = len(pdf)
    starts = np.zeros(n, dtype=bool)
    for c in key_cols:
        a = pdf[c].to_numpy()
        null = pd.isna(a)
        if n > 1:
            starts[1:] |= (null[1:] != null[:-1]) | (
                ~null[1:] & (a[1:] != a[:-1]))
    starts[0] = _key_at(pdf, key_cols, 0) != last
    return starts.tolist()


def _key_at(pdf, key_cols, i):
    return tuple(None if v != v else v
                 for v in (pdf[c].iat[i] for c in key_cols))


def walk_partition(batches, key_cols, init, step, rows):
    """Drive ``step`` over one mapInPandas partition sorted by
    ``key_cols``: state starts at ``init`` at each key change and
    carries across Arrow batches. ``rows(pdf)`` gives the rows of a
    batch as ``step`` reads them. Yields ``(pdf, idx, emits)`` per
    non-empty batch: the positions of the rows that emitted, and their
    emits."""
    last, state = object(), init
    for pdf in batches:
        if not len(pdf):
            continue
        idx, emits = [], []
        for i, (new, row) in enumerate(
                zip(_key_starts(pdf, key_cols, last), rows(pdf))):
            if new:
                state = init
            state, out = step(state, row)
            if out is not None:
                idx.append(i)
                emits.append(out)
        last = _key_at(pdf, key_cols, len(pdf) - 1)
        yield pdf, idx, emits


def watermark_buffer(init, step, rows, emit):
    """The ``applyInPandasWithState`` function of a streaming twin.

    Rows are tuples whose first item is the event time in µs. Arriving
    rows older than the watermark are dropped (applyInPandasWithState
    does not filter late input, and a late row would step the automaton
    after later rows); a row exactly at the watermark is on time, as in
    Spark's own stateful operators. The buffer is sorted, the prefix at
    or below the watermark is fed to ``step`` in order, and the rest
    waits in state, with an event-time timeout so the next watermark
    move releases it. ``rows(pdf)`` gives an input batch's rows;
    ``emit(key, row, out)`` gives the output record of an emitting row.
    The GroupState is one string column holding the automaton state and
    the buffer as JSON."""
    import pandas as pd

    def fn(key, pdfs, state):
        st, pend = json.loads(state.get[0]) if state.exists else (init, [])
        pend = [tuple(r) for r in pend]
        wm_us = state.getCurrentWatermarkMs() * 1000
        if not state.hasTimedOut:
            for pdf in pdfs:
                pend.extend(r for r in rows(pdf) if r[0] >= wm_us)
        pend.sort()
        ready = [r for r in pend if r[0] <= wm_us]
        pend = pend[len(ready):]
        out = []
        for r in ready:
            st, o = step(st, r)
            if o is not None:
                out.append(emit(key, r, o))
        state.update((json.dumps([st, pend]),))
        if pend:
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
        if out:
            yield pd.DataFrame(out)
    return fn
