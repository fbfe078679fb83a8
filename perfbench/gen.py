"""Seeded input generation for the benchmark.

Two input sets, both written as parquet in the star-schema layout that
``catalog.load_table`` reads:

- ``make_tables``: the TPC-H-ish tables plus ``events``, ``documents``
  and ``embeddings`` that the dashboard and curation mixes query. The
  shapes follow the repository's sf-scaled test data (row counts per
  scale factor, value domains, planted near-duplicate documents,
  random unit embeddings), so the DuckDB oracles apply unchanged.
- ``make_etl_history``: a CommCare-like form-submission history for the
  incremental ETL. Forms are ``events``, mobile workers ``user_id``,
  ``received_on`` is ``ts``. Worker activity is Zipf-skewed, so a small
  batch touches a small share of workers, and each batch carries
  resubmissions (same ``event_id``, ``user_id`` and day, later ``ts``).

The same seed always gives the same bytes of data.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US_PER_DAY = 86_400_000_000
US_PER_HOUR = 3_600_000_000
# 1995-01-01, 2024-01-01 and 2025-01-01 as epoch microseconds
EPOCH_1995 = 788_918_400_000_000
EPOCH_2024 = 1_704_067_200_000_000
EPOCH_2025 = 1_735_689_600_000_000

WORDS = (
    "a the big small fast slow key value row column table part line "
    "order customer data query join filter group sort agg window hash "
    "merge scan stream spark batch vector"
).split()
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
LANGS = ("en", "es", "zh", "de", "fr")
PART_ADJ = ("small", "red", "blue", "hot", "cold", "old", "new", "big")
PART_NOUN = ("ring", "widget", "bolt", "gear", "plate", "anvil", "gizmo", "nut")
PART_TYPES = ("ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO")


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def make_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write every table the dashboard and curation mixes read, at
    scale factor ``sf`` (sf 0.01 = 60 000 lineitem rows, 10 000
    events, 500 documents, 500 embeddings)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(20, int(15_000 * sf))
    n_docs = max(100, int(50_000 * sf))
    n_vec = max(100, int(50_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    price = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    names = [
        f"{PART_ADJ[a]} {PART_NOUN[b]}"
        for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
    ]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(price),
    })

    odate = EPOCH_1995 + rng.integers(0, 2404, n_ord) * US_PER_DAY
    n_lines = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(np.arange(n_ord), n_lines)
    n_li = len(l_ord)
    l_num = np.concatenate([np.arange(1, k + 1) for k in n_lines])
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ext = np.round(qty * price[l_part], 2)
    ship = odate[l_ord] + rng.integers(1, 122, n_li) * US_PER_DAY
    status = rng.choice(np.array(["O", "F", "P"]), n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(status),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_ord, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(ext),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(ship),
    })

    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * US_PER_DAY, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": pa.array(_money(rng, 0.01, 490.0, n_ev)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })

    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document plus a marker
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(
            np.array(LANGS)[rng.choice(5, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])]
        ),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    emb = rng.standard_normal((n_vec, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })


@dataclass(frozen=True)
class EtlShape:
    """Generated properties of the incremental-ETL input.

    No published source gives CommCare worker counts, activity skew or
    resubmission rates, so every value here is an assumption, chosen
    for a target: a history that fits a short run, and a batch that
    touches a small share of the known workers (the case touched-grain
    scoping is built for). ``python3 perfbench/gen.py`` prints the
    touched share for neighbouring skews and resubmission shares.
    """

    # assumed: many workers against the batch's 600 rows
    n_users: int = 4_000
    # assumed: worker activity P(rank r) ∝ 1 / r**zipf_s, a heavy head
    # of active workers and a long tail of occasional ones
    zipf_s: float = 1.2
    # assumed: 30 000 forms, a backfill short enough for the run budget
    history_days: int = 60
    events_per_day: int = 500
    # the specified batch size: 2 % of the backfilled history per batch
    batch_share: float = 0.02
    # assumed: a fifth of each batch re-sends a form received that day
    resubmit_share: float = 0.2
    n_batches: int = 6


@dataclass
class EtlHistory:
    backfill: pa.Table
    batches: list[pa.Table]
    touched_user_frac: list[float]


def _events_table(eid, ts, uid, rng: np.random.Generator) -> pa.Table:
    n = len(eid)
    return pa.table({
        "event_id": pa.array(eid, pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(uid, pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(_money(rng, 0.01, 490.0, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def make_etl_history(seed: int, shape: EtlShape) -> EtlHistory:
    """A backfill of ``history_days`` days of form submissions plus
    ``n_batches`` later batches, each strictly newer than everything
    before it (the ETL reads ``ts >`` the stored watermark). Every
    batch holds organic forms in its own time window and
    resubmissions of forms received earlier on the same day."""
    rng = np.random.default_rng(seed + 1)
    # worker ids are a seeded permutation so activity rank != id order
    weights = 1.0 / np.arange(1, shape.n_users + 1) ** shape.zipf_s
    weights /= weights.sum()
    ids = rng.permutation(shape.n_users).astype(np.int64)

    n_hist = shape.history_days * shape.events_per_day
    t0 = EPOCH_2025
    hist_ts = np.sort(t0 + rng.integers(0, shape.history_days * US_PER_DAY, n_hist))
    hist_uid = ids[rng.choice(shape.n_users, n_hist, p=weights)]
    hist_eid = np.arange(n_hist, dtype=np.int64)
    backfill = _events_table(hist_eid, hist_ts, hist_uid, rng)

    all_eid = [hist_eid]
    all_ts = [hist_ts]
    all_uid = [hist_uid]
    batch_rows = max(10, int(n_hist * shape.batch_share))
    n_resub = int(batch_rows * shape.resubmit_share)
    n_new = batch_rows - n_resub
    # one batch covers the next `window` of wall time, keeping the
    # history's arrival rate; windows stay inside one calendar day so
    # resubmissions can keep their original day
    window = int(batch_rows / shape.events_per_day * US_PER_DAY)
    window = min(window, US_PER_DAY // (shape.n_batches + 1))
    start = t0 + shape.history_days * US_PER_DAY + US_PER_HOUR
    resub_gap = US_PER_HOUR // 4
    next_eid = n_hist
    batches: list[pa.Table] = []
    touched: list[float] = []
    for _ in range(shape.n_batches):
        if (start + window) // US_PER_DAY != start // US_PER_DAY:
            start = (start // US_PER_DAY + 1) * US_PER_DAY + US_PER_HOUR
        lo, hi = start, start + window
        new_ts = np.sort(lo + 1 + rng.integers(0, window - resub_gap - 1, n_new))
        new_uid = ids[rng.choice(shape.n_users, n_new, p=weights)]
        new_eid = np.arange(next_eid, next_eid + n_new, dtype=np.int64)
        next_eid += n_new
        # resubmissions: distinct forms received earlier the same day
        # (in an earlier batch or in this one), re-sent with a later ts
        # that stays inside this batch's window and day
        cat_ts = np.concatenate(all_ts + [new_ts])
        cat_eid = np.concatenate(all_eid + [new_eid])
        cat_uid = np.concatenate(all_uid + [new_uid])
        pool = np.flatnonzero(cat_ts >= lo - lo % US_PER_DAY)
        pool = pool[np.lexsort((cat_ts[pool], cat_eid[pool]))]
        last = np.append(cat_eid[pool][1:] != cat_eid[pool][:-1], True)
        pool = pool[last]  # latest row of each form
        pick = rng.choice(pool, min(n_resub, len(pool)), replace=False)
        re_ts = np.maximum(cat_ts[pick], lo) + 1 + rng.integers(0, resub_gap, len(pick))
        b_eid = np.concatenate([new_eid, cat_eid[pick]])
        b_ts = np.concatenate([new_ts, re_ts])
        b_uid = np.concatenate([new_uid, cat_uid[pick]])
        order = np.argsort(b_ts, kind="stable")
        b_eid, b_ts, b_uid = b_eid[order], b_ts[order], b_uid[order]
        batches.append(_events_table(b_eid, b_ts, b_uid, rng))
        seen = np.unique(np.concatenate(all_uid + [b_uid]))
        touched.append(len(np.unique(b_uid)) / len(seen))
        all_eid.append(b_eid)
        all_ts.append(b_ts)
        all_uid.append(b_uid)
        start = hi + US_PER_HOUR
    return EtlHistory(backfill, batches, touched)


def latest_wins(tables: list[pa.Table]) -> pa.Table:
    """The deduplicated event set the ETL contract promises: for each
    ``event_id`` the row with the greatest ``ts`` (tables are in
    arrival order; a later table wins a tie)."""
    t = pa.concat_tables(tables)
    eid = t.column("event_id").to_numpy()
    ts = t.column("ts").cast(pa.int64()).to_numpy()
    arrival = np.arange(len(eid))
    order = np.lexsort((arrival, ts, eid))
    last = np.ones(len(order), dtype=bool)
    last[:-1] = eid[order][1:] != eid[order][:-1]
    return t.take(pa.array(np.sort(order[last])))


def touched_table(seeds=range(1, 6), users=(1_500, 4_000),
                  skews=(0.0, 1.0, 1.2, 1.4), resubmits=(0.1, 0.2, 0.3)):
    """Rows of (n_users, zipf_s, resubmit_share, median touched share of
    the first timed batch over ``seeds``) around the default shape;
    zipf_s 0 is uniform activity."""
    from statistics import median

    rows = []
    for n in users:
        for s in skews:
            for r in resubmits:
                shape = EtlShape(n_users=n, zipf_s=s, resubmit_share=r, n_batches=2)
                fr = [make_etl_history(seed, shape).touched_user_frac[0] for seed in seeds]
                rows.append((n, s, r, median(fr)))
    return rows


if __name__ == "__main__":
    print("n_users  zipf_s  resubmit_share  touched_user_frac (median, seeds 1-5)")
    for n, s, r, f in touched_table():
        print(f"{n:7d}  {s:6.1f}  {r:14.1f}  {f:.4f}")
