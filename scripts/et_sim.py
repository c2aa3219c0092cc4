#!/usr/bin/env python3
"""Design-time simulator for the event-time eviction oracle gates
(stream_locf_et / stream_cdc_et).

Models Spark's flatMapGroupsWithState + EventTimeTimeout semantics over
the chunked-file micro-batch replay the gates construct:

- delivered batch = ts bucket (cdc: +1 bucket for late-delivered rows)
- watermark DURING batch k = floor(max event-time us seen in batches < k
  / 1000) - delayMs, starting at 0 (WatermarkTracker), monotone
- keys WITH data in a batch are processed normally (no timeout branch)
- keys WITHOUT data whose timer < watermark (STRICT) are evicted in that
  batch; the timer is armed as
  max(latest-event-time-ms + ttlMs, watermark + 1)  (dataClockLeaseMs)

It runs the exact engine fold (locfFoldOrdered / latestState) AND the
closed-form oracle the DuckDB gate SQL uses, and asserts they agree —
plus counts evictions / discriminating rows so the gate provably
exercises the eviction path at each SF.
"""
import sys
import duckdb
import pandas as pd

DAY_US = 86_400_000_000
# the gates replay only the first PREFIX_DAYS ts-days (StreamGates
# etReplayCutoffUs): per-micro-batch overhead is a fixed floor, and the
# prefix already evicts 68 leases at sf0.01 / ~550 at sf0.1 (r19 trim
# 12 -> 9: the shortest prefix keeping every gate's eviction evidence
# nonzero at every SF incl. sf0.001 -- MUST track
# src/main/scala/graft/streaming/StreamGates.scala EtReplayDays)
PREFIX_DAYS = 9

def load(sf_dir, days=PREFIX_DAYS):
    con = duckdb.connect()
    df = con.sql(f"""
      WITH t0 AS (SELECT min(epoch_us(ts)) // {DAY_US} AS d0
                  FROM '{sf_dir}/events.parquet'
                  WHERE user_id IS NOT NULL AND ts IS NOT NULL)
      SELECT user_id, event_id, epoch_us(ts) AS tsu, value
      FROM '{sf_dir}/events.parquet', t0
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND epoch_us(ts) // {DAY_US} < t0.d0 + {days}
    """).df()
    return df

# ---------------------------------------------------------------- engine sims

def sim_locf(df, W, ttl_ms):
    """Engine model for locfEnrich(eventTimeTtl, delay=0), in-order bucket
    delivery, value nulled when event_id % 3 == 0. Returns (rows, n_evict)."""
    d = df.copy()
    d["val"] = d["value"].where(d["event_id"] % 3 != 0)
    d["b"] = d["tsu"] // W
    batches = sorted(d["b"].unique())
    state = {}   # uid -> (v, ts, id, maxTs)
    timer = {}   # uid -> timeout ms
    out = []
    n_evict = 0
    wm = 0
    prev_max_us = None
    for b in batches:
        if prev_max_us is not None:
            wm = max(wm, prev_max_us // 1000)  # delay = 0
        batch = d[d["b"] == b]
        keys_with_data = set(batch["user_id"])
        # timers fire for keys WITHOUT data, strictly below watermark
        for uid in list(timer):
            if uid not in keys_with_data and timer[uid] < wm:
                state.pop(uid, None); timer.pop(uid, None); n_evict += 1
        for uid, g in batch.groupby("user_id"):
            g = g.sort_values(["tsu", "event_id"])
            assert (g["tsu"] // 1000 > wm).all(), "late row would be dropped"
            st = state.get(uid)
            carry0 = (st[0], st[1], st[2]) if st else None
            batch_carry = None
            for _, r in g.iterrows():
                if pd.notna(r["val"]):
                    batch_carry = (r["val"], r["tsu"], r["event_id"])
                cands = []
                if carry0 and (carry0[1], carry0[2]) <= (r["tsu"], r["event_id"]):
                    cands.append(carry0)
                if batch_carry:
                    cands.append(batch_carry)
                eff = max(cands, key=lambda c: (c[1], c[2]))[0] if cands else None
                out.append((uid, r["event_id"], r["tsu"],
                            None if pd.isna(r["val"]) else r["val"], eff))
            new_carry = max([c for c in [carry0, batch_carry] if c],
                            key=lambda c: (c[1], c[2]), default=None)
            max_ts = max(st[3] if st else -1 << 62, g["tsu"].max())
            if new_carry:
                state[uid] = (new_carry[0], new_carry[1], new_carry[2], max_ts)
            if uid in state:
                timer[uid] = max(max_ts // 1000 + ttl_ms, wm + 1)
        prev_max_us = max(prev_max_us or 0, batch["tsu"].max())
    return out, n_evict

def oracle_locf(df, W, ttl_ms):
    """Closed-form (window) oracle for sim_locf."""
    d = df.copy()
    d["val"] = d["value"].where(d["event_id"] % 3 != 0)
    d["b"] = d["tsu"] // W
    border = sorted(d["b"].unique())
    ordv = {b: i + 1 for i, b in enumerate(border)}
    d["ord"] = d["b"].map(ordv)
    bmax = d.groupby("ord")["tsu"].max()
    # wm[x] = floor(max tsu over ord < x / 1000), 0 if none (delay = 0)
    wm = {}
    run = None
    for x in sorted(ordv.values()):
        wm[x] = (run // 1000) if run is not None else 0
        run = max(run or 0, bmax[x])
    out = []
    for uid, g in d.groupby("user_id"):
        g = g.sort_values(["tsu", "event_id"])
        seg = 0
        seen_nonnull = False
        prev = None
        rows = []
        for _, r in g.iterrows():
            if prev is not None and seen_nonnull:
                timeout = max(prev["tsu"] // 1000 + ttl_ms, wm[prev["ord"]] + 1)
                if r["ord"] >= prev["ord"] + 2 and wm[r["ord"] - 1] > timeout:
                    seg += 1
            rows.append((r, seg))
            if pd.notna(r["val"]):
                seen_nonnull = True
            prev = r
        carry = {}
        for r, s in rows:
            if pd.notna(r["val"]):
                carry[s] = r["val"]
            out.append((uid, r["event_id"], r["tsu"],
                        None if pd.isna(r["val"]) else r["val"], carry.get(s)))
    return out

def sim_cdc(df, W, ttl_ms, evict=True):
    """Engine model for latestStateChanges(eventTimeTtl, delay=0):
    upsert emitted when a key's (ts, event_id) winner changes, DELETE
    tombstone emitted when the key's event-time lease expires (first
    silent batch whose watermark strictly exceeds the timer), including
    the post-backlog extra batch Spark runs when the watermark advanced
    in the final data batch. In-order bucket delivery."""
    d = df.copy()
    d["b"] = d["tsu"] // W
    batches = sorted(d["b"].unique())
    state = {}   # uid -> (ts, id, value)
    timer = {}
    out = []
    n_evict = 0
    wm = 0
    prev_max_us = None

    def fire(keys_with_data):
        nonlocal n_evict
        for uid in list(timer):
            if uid not in keys_with_data and timer[uid] < wm:
                st = state.pop(uid)
                timer.pop(uid)
                out.append((uid, st[0], st[1], st[2], "delete"))
                n_evict += 1

    for b in batches:
        if prev_max_us is not None:
            wm = max(wm, prev_max_us // 1000)   # delay = 0
        batch = d[d["b"] == b]
        if evict:
            fire(set(batch["user_id"]))
        for uid, g in batch.groupby("user_id"):
            bm = g.loc[g[["tsu", "event_id"]].apply(tuple, axis=1).idxmax()]
            bkey = (bm["tsu"], bm["event_id"], bm["value"])
            st = state.get(uid)
            if st is None or (bkey[0], bkey[1]) > (st[0], st[1]):
                state[uid] = bkey
                out.append((uid, bkey[0], bkey[1], bkey[2], "upsert"))
            timer[uid] = max(state[uid][0] // 1000 + ttl_ms, wm + 1)
        prev_max_us = max(prev_max_us or 0, batch["tsu"].max())
    # the extra no-data batch: watermark advanced in the last data batch,
    # so Spark runs one more batch to fire newly-expired timers
    wm = max(wm, prev_max_us // 1000)
    if evict:
        fire(set())
    return out, n_evict

def oracle_cdc(df, W, ttl_ms):
    """Closed-form oracle for sim_cdc: upserts are the per-(key, bucket)
    argmax (in-order delivery means every data bucket strictly advances
    the winner); deletes follow the lease rule between consecutive data
    buckets and at the final watermark — no recursion, because any
    admissible post-eviction arrival is above the watermark and hence
    above the evicted best, so the winner is the delivered prefix max
    whether or not an eviction happened."""
    d = df.copy()
    d["b"] = d["tsu"] // W
    border = sorted(d["b"].unique())
    ordv = {b: i + 1 for i, b in enumerate(border)}
    d["ord"] = d["b"].map(ordv)
    bmax = d.groupby("ord")["tsu"].max()
    wm = {}
    run = None
    for x in sorted(ordv.values()):
        wm[x] = (run // 1000) if run is not None else 0
        run = max(run or 0, bmax[x])
    final_wm = run // 1000
    out = []
    for uid, g in d.groupby("user_id"):
        steps = []
        for o, gg in sorted(g.groupby("ord")):
            bm = gg.loc[gg[["tsu", "event_id"]].apply(tuple, axis=1).idxmax()]
            steps.append((o, bm["tsu"], bm["event_id"], bm["value"]))
        for i, (o, bts, bid, bval) in enumerate(steps):
            out.append((uid, bts, bid, bval, "upsert"))
            timeout = max(bts // 1000 + ttl_ms, wm[o] + 1)
            if i + 1 < len(steps):
                o2 = steps[i + 1][0]
                if o2 >= o + 2 and wm[o2 - 1] > timeout:
                    out.append((uid, bts, bid, bval, "delete"))
            else:
                if final_wm > timeout:
                    out.append((uid, bts, bid, bval, "delete"))
    return out

def load_typed(sf_dir, days=PREFIX_DAYS):
    con = duckdb.connect()
    return con.sql(f"""
      WITH t0 AS (SELECT min(epoch_us(ts)) // {DAY_US} AS d0
                  FROM '{sf_dir}/events.parquet'
                  WHERE user_id IS NOT NULL AND ts IS NOT NULL)
      SELECT user_id, event_id, epoch_us(ts) AS tsu, event_type
      FROM '{sf_dir}/events.parquet', t0
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL
        AND epoch_us(ts) // {DAY_US} < t0.d0 + {days}
    """).df()

def sim_transitions(df, W, ttl_ms):
    """Engine model for transitionsStateful(eventTimeTtl, delay=0), in-order
    day-bucket delivery: marker state (ts, event_id, type) per key, each
    event pairs with the latest KNOWN strictly-before event
    (transitionsFoldOrdered), lease = max(marker-ts-ms + ttl, wm + 1),
    eviction (marker forgotten, nothing emitted) fires in the first
    key-silent batch whose wm STRICTLY exceeds the lease."""
    d = df.copy()
    d["b"] = d["tsu"] // W
    batches = sorted(d["b"].unique())
    state = {}   # uid -> (ts, id, type)
    timer = {}
    out = []
    n_evict = 0
    wm = 0
    prev_max_us = None
    for b in batches:
        if prev_max_us is not None:
            wm = max(wm, prev_max_us // 1000)   # delay = 0
        batch = d[d["b"] == b]
        keys_with_data = set(batch["user_id"])
        for uid in list(timer):
            if uid not in keys_with_data and timer[uid] < wm:
                state.pop(uid, None); timer.pop(uid, None); n_evict += 1
        for uid, g in batch.groupby("user_id"):
            g = g.sort_values(["tsu", "event_id"])
            marker0 = state.get(uid)
            batch_prev = None
            for _, r in g.iterrows():
                key = (r["tsu"], r["event_id"])
                cands = [c for c in (marker0, batch_prev)
                         if c is not None and (c[0], c[1]) < key]
                pred = max(cands, key=lambda c: (c[0], c[1]), default=None)
                if pred is not None:
                    out.append((uid, pred[2], r["event_type"]))
                batch_prev = (r["tsu"], r["event_id"], r["event_type"])
            marker = max([c for c in (marker0, batch_prev) if c is not None],
                         key=lambda c: (c[0], c[1]))
            state[uid] = marker
            timer[uid] = max(marker[0] // 1000 + ttl_ms, wm + 1)
        prev_max_us = max(prev_max_us or 0, batch["tsu"].max())
    return out, n_evict

def oracle_transitions(df, W, ttl_ms):
    """Closed-form oracle for sim_transitions: segment the per-key row
    sequence at evictions (same lease rule as oracle_locf, minus the
    non-null clause — the marker exists after ANY batch), then pair each
    row with its in-segment predecessor (in-order delivery makes the
    stored marker exactly the previous row)."""
    d = df.copy()
    d["b"] = d["tsu"] // W
    border = sorted(d["b"].unique())
    ordv = {b: i + 1 for i, b in enumerate(border)}
    d["ord"] = d["b"].map(ordv)
    bmax = d.groupby("ord")["tsu"].max()
    wm = {}
    run = None
    for x in sorted(ordv.values()):
        wm[x] = (run // 1000) if run is not None else 0
        run = max(run or 0, bmax[x])
    out = []
    for uid, g in d.groupby("user_id"):
        g = g.sort_values(["tsu", "event_id"])
        prev = None
        for _, r in g.iterrows():
            if prev is not None:
                timeout = max(prev["tsu"] // 1000 + ttl_ms, wm[prev["ord"]] + 1)
                evicted = (r["ord"] >= prev["ord"] + 2
                           and wm[r["ord"] - 1] > timeout)
                if not evicted:
                    out.append((uid, prev["event_type"], r["event_type"]))
            prev = r
    return out

def sim_episodes(df, W, L_us, gap_us, flush_ms):
    """Engine model for episodeState(gap, eventTimeIdleFlush, delay=0):
    intervals (ivs=ts, ive=ts+L) delivered one ive-day-bucket per batch
    (fixed L makes per-key delivery ivs- AND ive-monotone). Emits closed
    episodes plus watermark-flushed episodes (incl. the post-backlog
    sweep batch); the per-key trailing OPEN episode is never emitted."""
    d = df.copy()
    d["ivs"] = d["tsu"]
    d["ive"] = d["tsu"] + L_us
    d["b"] = d["ive"] // W
    batches = sorted(d["b"].unique())
    state = {}   # uid -> (ms, me, n)
    timer = {}
    out = []
    n_flush = 0
    wm = 0
    prev_max_us = None

    def fire(keys_with_data):
        nonlocal n_flush
        for uid in list(timer):
            if uid not in keys_with_data and timer[uid] < wm:
                ms, me, n = state.pop(uid)
                timer.pop(uid)
                out.append((uid, ms, me, n))
                n_flush += 1

    for b in batches:
        if prev_max_us is not None:
            wm = max(wm, prev_max_us // 1000)
        batch = d[d["b"] == b]
        fire(set(batch["user_id"]))
        for uid, g in batch.groupby("user_id"):
            g = g.sort_values(["ivs", "ive"])
            assert (g["ive"] // 1000 > wm).all(), "late interval would drop"
            cur = state.get(uid)
            for _, r in g.iterrows():
                if cur is not None and r["ivs"] <= cur[1] + gap_us:
                    cur = (cur[0], max(cur[1], r["ive"]), cur[2] + 1)
                elif cur is not None:
                    out.append((uid, cur[0], cur[1], cur[2]))
                    cur = (r["ivs"], r["ive"], 1)
                else:
                    cur = (r["ivs"], r["ive"], 1)
            state[uid] = cur
            timer[uid] = max(cur[1] // 1000 + flush_ms, wm + 1)
        prev_max_us = max(prev_max_us or 0, batch["ive"].max())
    wm = max(wm, prev_max_us // 1000)
    fire(set())
    return out, n_flush

def oracle_episodes(df, W, L_us, gap_us, flush_ms):
    """Closed-form oracle for sim_episodes: break the per-key interval
    sequence at gap breaks OR flush boundaries (silent-batch lease rule
    on the previous interval's reach — fixed L makes reach = lag(ive)),
    group into episodes, emit all but each key's last episode, which is
    emitted iff the final watermark flushes it."""
    d = df.copy()
    d["ivs"] = d["tsu"]
    d["ive"] = d["tsu"] + L_us
    d["b"] = d["ive"] // W
    border = sorted(d["b"].unique())
    ordv = {b: i + 1 for i, b in enumerate(border)}
    d["ord"] = d["b"].map(ordv)
    bmax = d.groupby("ord")["ive"].max()
    wm = {}
    run = None
    for x in sorted(ordv.values()):
        wm[x] = (run // 1000) if run is not None else 0
        run = max(run or 0, bmax[x])
    final_wm = run // 1000
    out = []
    for uid, g in d.groupby("user_id"):
        g = g.sort_values(["ivs", "ive"])
        eps = []   # list of [ms, me, n, last_ord]
        prev = None
        for _, r in g.iterrows():
            brk = True
            if prev is not None:
                timeout = max(prev["ive"] // 1000 + flush_ms, wm[prev["ord"]] + 1)
                flushed = (r["ord"] >= prev["ord"] + 2
                           and wm[r["ord"] - 1] > timeout)
                brk = flushed or r["ivs"] > prev["ive"] + gap_us
            if brk:
                eps.append([r["ivs"], r["ive"], 1, r["ord"]])
            else:
                e = eps[-1]
                e[1] = max(e[1], r["ive"]); e[2] += 1; e[3] = r["ord"]
            prev = r
        for i, (ms, me, n, lo) in enumerate(eps):
            if i + 1 < len(eps):
                out.append((uid, ms, me, n))
            else:
                timeout = max(me // 1000 + flush_ms, wm[lo] + 1)
                if final_wm > timeout:
                    out.append((uid, ms, me, n))
    return out

def norm(rows):
    def c(x):
        if x is None:
            return None
        if isinstance(x, str):
            return x
        f = float(x)
        # integral values (ids, epoch-us) compare as exact ints — numpy's
        # scale-based round() corrupts 1e15-magnitude int64s
        return int(f) if f.is_integer() else round(f, 9)
    return sorted(tuple(c(x) for x in r) for r in rows)

if __name__ == "__main__":
    for sf in ["0.001", "0.01", "0.1"]:
        df = load(f"/root/testdata/sf{sf}")
        # ---- locf gate: W = 1 day, ttl = 6 h, delay = 0
        eng, nev = sim_locf(df, DAY_US, 6 * 3600 * 1000)
        orc = oracle_locf(df, DAY_US, 6 * 3600 * 1000)
        match = norm(eng) == norm(orc)
        # discriminating rows: carried differs vs a no-eviction run
        noev, _ = sim_locf(df, DAY_US, 10**15)
        diff = len(set(norm(eng)) ^ set(norm(noev)))
        print(f"sf{sf} locf_et: n={len(eng)} evictions={nev} "
              f"oracle_match={match} rows_changed_by_eviction={diff // 2}")
        # ---- cdc tombstone gate: W = 1 day, ttl = 6 h, delay = 0
        eng, nev = sim_cdc(df, DAY_US, 6 * 3600 * 1000)
        orc = oracle_cdc(df, DAY_US, 6 * 3600 * 1000)
        match = norm(eng) == norm(orc)
        n_del = sum(1 for r in eng if r[4] == "delete")
        print(f"sf{sf} cdc_et: emissions={len(eng)} deletes={n_del} "
              f"evictions={nev} oracle_match={match}")
        # ---- transitions gate: W = 1 day, ttl = 6 h, delay = 0
        dt = load_typed(f"/root/testdata/sf{sf}")
        eng, nev = sim_transitions(dt, DAY_US, 6 * 3600 * 1000)
        orc = oracle_transitions(dt, DAY_US, 6 * 3600 * 1000)
        match = norm(eng) == norm(orc)
        # discriminating rows: pairs suppressed vs a no-eviction run
        noev, _ = sim_transitions(dt, DAY_US, 10**15)
        import collections
        ec, nc = collections.Counter(norm(eng)), collections.Counter(norm(noev))
        diff = sum((nc - ec).values()) + sum((ec - nc).values())
        print(f"sf{sf} transitions_et: pairs={len(eng)} evictions={nev} "
              f"oracle_match={match} pairs_changed_by_eviction={diff}")
        if not match:
            a, b = set(norm(eng)), set(norm(orc))
            print("  eng-only:", sorted(a - b)[:4])
            print("  orc-only:", sorted(b - a)[:4])
        # ---- episode flush gate: 2 h intervals, 2 h merge gap,
        #      6 h idle flush, day buckets on ive, delay = 0
        eng, nfl = sim_episodes(df, DAY_US, 2 * 3600 * 1_000_000,
                                2 * 3600 * 1_000_000, 6 * 3600 * 1000)
        orc = oracle_episodes(df, DAY_US, 2 * 3600 * 1_000_000,
                              2 * 3600 * 1_000_000, 6 * 3600 * 1000)
        match = norm(eng) == norm(orc)
        print(f"sf{sf} episodes_et: episodes={len(eng)} flushes={nfl} "
              f"oracle_match={match}")
        if not match:
            a, b = set(norm(eng)), set(norm(orc))
            print("  eng-only:", sorted(a - b)[:4])
            print("  orc-only:", sorted(b - a)[:4])
