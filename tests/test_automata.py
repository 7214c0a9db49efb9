"""Spark-free checks of operators/automata.py: every transition rule
against a plain-Python reference over all step-mask sequences up to
length 6, and the streaming watermark buffer against the batch driver
under shuffled arrival order."""

import itertools
import random

import pandas as pd
import pytest

from azure_kusto_parquet_conv_spark.operators import automata

N_STEPS = 3
MAX_LEN = 6


def _run(init, step, rows):
    out, st = [], init
    for r in rows:
        st, o = step(st, r)
        out.append(o)
    return out


def _ref_scan(masks):
    """Kusto scan, single active sequence: advance > extend > restart."""
    out, matched, mid = [], 0, 0
    for m in masks:
        def has(j):
            return bool(m & (1 << j))
        if matched < N_STEPS and has(matched):
            out.append((matched, mid))
            matched += 1
        elif matched and has(matched - 1):
            out.append((matched - 1, mid))
        elif matched == N_STEPS and has(0):
            mid += 1
            out.append((0, mid))
            matched = 1
        else:
            out.append(None)
    return out


# sequence_detect rows carry these irregular times, so both the gap and
# the window limit bite, at their bounds and past them
SEQ_TIMES = [0, 1, 3, 4, 5, 7]
SEQ_GAP, SEQ_WINDOW = 2, 3


def _ref_sequence_detect(masks):
    """Latest-start greedy: a step-1 match always (re)starts unless it
    advances an in-flight sequence within the gap and window."""
    out, seq = [], []
    for t, m in zip(SEQ_TIMES, masks):
        k = len(seq)
        if (seq and m & (1 << k) and t - seq[-1] <= SEQ_GAP
                and t - seq[0] <= SEQ_WINDOW):
            seq.append(t)
        elif m & 1:
            seq = [t]
        else:
            out.append(None)
            continue
        if len(seq) == N_STEPS:
            out.append(tuple(seq))
            seq = []
        else:
            out.append(None)
    return out


RWS_FIRST, RWS_BETWEEN = 3, 5


def _rws_rows(masks):
    """bit 0 restarts, bit 1 makes the value null, bit 2 jumps 10."""
    rows, v = [], 0
    for i, m in enumerate(masks):
        v += 10 if m & 4 else 1
        rows.append((None if m & 2 else v, bool(m & 1), f"r{i}"))
    return rows


def _ref_row_window_session(rows):
    out, session = [], None   # session = [first v, first label, last v]
    for v, restart, label in rows:
        if v is None:
            session = None
            out.append(None)
            continue
        if (session is None or restart or v - session[2] > RWS_BETWEEN
                or v - session[0] > RWS_FIRST):
            session = [v, label, v]
        session[2] = v
        out.append(session[1])
    return out


def test_every_mask_sequence_matches_reference():
    """All 8**6 mask sequences of length 6 (their prefixes are every
    shorter sequence) through each transition function, compared row
    by row with the references above."""
    scan_init, scan_step = automata.scan(
        N_STEPS, lambda j, m, st: m >> j & 1)
    sd_init, sd_step = automata.sequence_detect(N_STEPS, SEQ_GAP,
                                                SEQ_WINDOW)
    rws_init, rws_step = automata.row_window_session(RWS_FIRST,
                                                     RWS_BETWEEN)
    n = 0
    for masks in itertools.product(range(1 << N_STEPS), repeat=MAX_LEN):
        got = [o and o[:2] for o in _run(scan_init, scan_step, masks)]
        assert got == _ref_scan(masks), masks
        assert _run(sd_init, sd_step, zip(SEQ_TIMES, masks)) == \
            _ref_sequence_detect(masks), masks
        rows = _rws_rows(masks)
        assert _run(rws_init, rws_step, rows) == \
            _ref_row_window_session(rows), masks
        n += 1
    assert n == 8 ** MAX_LEN


def test_scan_state_predicates_and_assignments():
    """A state-reading predicate and copy-on-assign: the cumulative idiom
    (one always-true step extending itself) and a capped counter whose
    restart is judged against fresh state."""
    def assign(j, row, st):
        return {"n": st["n"] + row}

    init, step = automata.scan(1, lambda j, row, st: True, {"n": 0},
                               assign)
    assert [o[2]["n"] for o in _run(init, step, [1, 2, 3])] == [1, 3, 6]
    assert init == (0, 0, {"n": 0})

    # step 0 holds while n < 2, so a completed match restarts only
    # against the fresh n = 0
    init, step = automata.scan(1, lambda j, row, st: st["n"] < 2,
                               {"n": 0},
                               lambda j, row, st: {"n": st["n"] + 1})
    outs = _run(init, step, range(5))
    assert [(o[0], o[1], o[2]["n"]) for o in outs] == [
        (0, 0, 1), (0, 0, 2), (0, 1, 1), (0, 1, 2), (0, 2, 1)]


def test_walk_partition_resets_per_key_across_batches():
    """Keys change inside and between Arrow batches; NaN and None keys
    form one group; state carries across a batch split."""
    keys = [1.0, 1.0, float("nan"), float("nan"), None, 2.0, 2.0]
    pdf = pd.DataFrame({"k": pd.Series(keys, dtype="float64"),
                        "v": [1, 1, 1, 1, 1, 1, 1]})

    def step(state, row):
        return state + row, state + row

    def rows(p):
        return p["v"].tolist()

    for cut in range(len(pdf) + 1):
        batches = [pdf.iloc[:cut], pdf.iloc[cut:]]
        got = [e for _, _, emits in automata.walk_partition(
            batches, ["k"], 0, step, rows) for e in emits]
        assert got == [1, 2, 1, 2, 3, 1, 2], cut


def test_step_mask_sql_skips_kernel_predicates():
    assert automata.step_mask_sql(["a", None, "c"]) == (
        "CAST(CASE WHEN CAST((a) AS BOOLEAN) THEN 1 ELSE 0 END + "
        "CASE WHEN CAST((c) AS BOOLEAN) THEN 4 ELSE 0 END AS BIGINT)")
    assert automata.step_mask_sql([None]) == "CAST(0 AS BIGINT)"


class _State:
    """The slice of pyspark's GroupState a watermark buffer uses."""

    def __init__(self):
        self.value, self.timeout, self.wm_ms = None, None, 0
        self.hasTimedOut = False

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = value

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    def setTimeoutTimestamp(self, ms):
        self.timeout = ms


def _stream(fn, arrivals, delay_ms):
    """Feed ``arrivals`` (micro-batches of (key, row) pairs) through
    ``fn`` per key, advancing the watermark between batches to the max
    event time seen minus ``delay_ms``, as Spark does; then one final
    far watermark times every key out. Returns the output records and
    the rows that arrived late."""
    states, out, late, max_ms = {}, [], [], 0
    for batch in arrivals + [None]:
        wm_ms = 10 ** 12 if batch is None else max(0, max_ms - delay_ms)
        by_key = {}
        for key, row in batch or []:
            by_key.setdefault(key, []).append(row)
            if row[0] < wm_ms * 1000:
                late.append((key, row))
        for key in sorted(set(by_key) | set(states)):
            st = states.setdefault(key, _State())
            st.wm_ms = wm_ms
            st.hasTimedOut = key not in by_key
            if st.hasTimedOut and (st.timeout is None
                                   or wm_ms <= st.timeout):
                continue
            st.timeout = None
            pdfs = ([pd.DataFrame(by_key[key], columns=COLS)]
                    if key in by_key else [])
            for res in fn((key,), iter(pdfs), st):
                out.extend(res.to_dict("records"))
        for _, row in batch or []:
            max_ms = max(max_ms, row[0] // 1000)
    return out, late


COLS = ["t", "eid", "mask"]


def _arrivals(rng, n_keys=3, n=60, delay_ms=5):
    """Time-sorted rows per key, delivered in seeded micro-batches with
    each row's arrival jittered inside the watermark delay; then rows
    stamped before the watermark (late) and exactly at it."""
    rows = []
    for key in range(n_keys):
        t = 0
        for eid in range(n):
            t += rng.choice([0, 1000, 1000, 2000, 3000])
            rows.append((key, (t, key * 1000 + eid, rng.randrange(8))))
    # arrival order: sort by time plus a jitter smaller than the delay
    rows.sort(key=lambda kr: kr[1][0] + rng.uniform(0, delay_ms * 900))
    batches, i = [], 0
    while i < len(rows):
        size = rng.randint(1, 12)
        batches.append(rows[i:i + size])
        i += size
    # a late row (well before the watermark) and an equal one in a
    # batch that follows a watermark move
    for b in range(2, len(batches), 3):
        seen = max(r[0] for batch in batches[:b] for _, r in batch)
        wm_us = max(0, seen // 1000 - delay_ms) * 1000
        key = rng.randrange(n_keys)
        batches[b] = batches[b] + [
            (key, (max(0, wm_us - 4000), 10 ** 6 + b, rng.randrange(8))),
            (key, (wm_us, 2 * 10 ** 6 + b, rng.randrange(8)))]
    return batches


def _batch(init, step, rows_of, kept):
    """The batch driver over the key-sorted on-time rows, cut into
    small Arrow-like batches."""
    srt = sorted(kept)
    pdf = pd.DataFrame([(k, *r) for k, r in srt], columns=["key", *COLS])
    batches = [pdf.iloc[i:i + 7] for i in range(0, len(pdf), 7)]
    got = []
    for part, idx, emits in automata.walk_partition(
            batches, ["key"], init, step, rows_of):
        for i, e in zip(idx, emits):
            got.append((int(part["key"].iat[i]),
                        tuple(int(x) for x in part.iloc[i][COLS]), e))
    return got


def _rows(pdf):
    return zip(pdf["t"].tolist(), pdf["eid"].tolist(),
               pdf["mask"].tolist())


@pytest.mark.parametrize("seed", range(8))
def test_watermark_buffer_matches_batch_driver(seed):
    """Out-of-order arrivals inside the watermark, plus late and
    equal-to-watermark rows: the stream emits exactly the batch
    driver's emits over the sorted rows that arrived on time."""
    rng = random.Random(seed)
    delay_ms = 5
    arrivals = _arrivals(rng, delay_ms=delay_ms)
    automatons = {
        "scan": automata.scan(N_STEPS, lambda j, r, st: r[2] >> j & 1),
        "sequence_detect": automata.sequence_detect(N_STEPS, 4000, 9000),
        "row_window_session": automata.row_window_session(6000, 2500),
    }
    # scan emits (step, match id, vars): compare the first two
    norm = {"scan": lambda e: tuple(e[:2]), "sequence_detect": tuple,
            "row_window_session": lambda e: e}
    # each automaton's view of a (t, eid, mask) row; row_window_session
    # restarts on the mask's low bit and reports the session's first t
    view = {"scan": lambda r: r, "sequence_detect": lambda r: (r[0], r[2]),
            "row_window_session": lambda r: (r[0], r[2] & 1, r[0])}
    for name, (init, step) in automatons.items():
        def sstep(state, row, step=step, view=view[name]):
            return step(state, view(row))

        def emit(key, r, out):
            return {"key": key[0], "row": r, "out": out}

        fn = automata.watermark_buffer(init, sstep, _rows, emit)
        got, late = _stream(fn, arrivals, delay_ms)
        late_set = set(late)
        assert late, "the fixture must hold late rows"
        kept = [kr for b in arrivals for kr in b if kr not in late_set]
        want = _batch(init, sstep, _rows, kept)
        assert sorted((g["key"], tuple(g["row"]), norm[name](g["out"]))
                      for g in got) == sorted(
            (k, r, norm[name](e)) for k, r, e in want), name
        if name == "row_window_session":
            # every on-time row emits, so an equal-to-watermark row is
            # kept and a late one is not
            emitted = {(g["key"], g["row"][1]) for g in got}
            assert all((k, r[1]) not in emitted for k, r in late)
            assert any(r[1] >= 2 * 10 ** 6 for _, r in kept)
            assert {(k, r[1]) for k, r in kept} == emitted
