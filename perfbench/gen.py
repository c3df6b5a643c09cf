"""Seeded input generator for the benchmark (one process, one thread).

Three modes:

* ``stream``: an open-loop writer of multiplexed telemetry CSV files
  (fitbit : new-user : sales = 8 : 1 : 1) at a fixed rate. It waits
  for a go-file holding the schedule's start time, writes file ``k`` at
  ``start + k * interval`` (temp name, then rename) and stops when the
  stop-file appears. Every file is logged with its due time, row count
  and how late it was written, so latency is timed from the due time.
* ``backlog``: the same lines, all written at once, with each file's
  modification time set to its due time so the file source drains them
  in schedule order.
* ``tables``: the analytics tables (TPC-H-ish star schema, events,
  documents, embeddings) as parquet, shaped like the repository's
  harness test data.

The fitbit ``machine_timestamp`` is the file's due time in epoch
milliseconds (13 digits, so string order is time order). A user
appears at most once per file, so no two rows of one user share a
timestamp. Users come from a fixed Zipf-skewed population.
"""

from __future__ import annotations

import argparse
import json
import os
import time
from datetime import datetime, timezone

import numpy as np

POPULATION = 100_000
ZIPF_S = 0.9
BP_CATS = ("NORMAL", "PRE_HYP", "HYP_1", "HYP_2", "HYP_CR")
CATEGORIES = ("sedentary", "moderate", "active", "athlete")


class Telemetry:
    """Deterministic line maker: the same seed gives the same files."""

    def __init__(self, seed: int, population: int = POPULATION) -> None:
        self.rng = np.random.default_rng(seed)
        self.population = population
        weights = 1.0 / np.arange(1, population + 1) ** ZIPF_S
        self.cdf = np.cumsum(weights / weights.sum())
        # rank -> user number, so the hot users are not u0, u1, ...
        self.ids = self.rng.permutation(population)

    def users(self, n: int) -> np.ndarray:
        ranks = np.searchsorted(self.cdf, self.rng.random(n), side="right")
        users = self.ids[np.minimum(ranks, self.population - 1)]
        _, first = np.unique(users, return_index=True)
        return users[np.sort(first)]

    def lines(self, n: int, due_ms: int) -> list[str]:
        rng = self.rng
        kinds = rng.random(n)
        n_fit = int((kinds < 0.8).sum())
        n_new = int(((kinds >= 0.8) & (kinds < 0.9)).sum())
        n_sales = n - n_fit - n_new
        users = self.users(n_fit)
        n_fit = len(users)
        ages = 15 + users % 76
        bps = users % 5
        pulses = np.round(rng.uniform(60.0, 200.0, n_fit), 1)
        temps = np.round(rng.uniform(95.0, 106.0, n_fit), 1)
        lats = np.round(rng.uniform(-60.0, 60.0, n_fit), 4)
        longs = np.round(rng.uniform(-170.0, 170.0, n_fit), 4)
        pads = rng.random(n_fit) < 0.05
        dt = datetime.fromtimestamp(due_ms / 1000, tz=timezone.utc).strftime(
            "%Y-%m-%d %H:%M:%S"
        )
        out = [
            f"fitbit,{dt},u{u},{la},{lo},{' ' if p else ''}{pu},{t},{a},{BP_CATS[b]},{due_ms}"
            for u, la, lo, pu, t, a, b, p in zip(
                users.tolist(), lats.tolist(), longs.tolist(), pulses.tolist(),
                temps.tolist(), ages.tolist(), bps.tolist(), pads.tolist(),
            )
        ]
        for u in rng.integers(0, POPULATION, n_new).tolist():
            r = (u * 2654435761) % 1000
            out.append(
                f"new-user-notification,{15 + u % 76},{'MF'[u % 2]},"
                f"{CATEGORIES[u % 4]},{40 + r % 110}.5,{140 + r % 70}.0,"
                f"{15 + r % 30}.2,{5 + r % 45}.1,{BP_CATS[u % 5]},"
                f"{90 + r % 110}.0,{60 + r % 70}.0,u{u},d{u}"
            )
        day = due_ms // 86_400_000
        for d, c in zip(rng.integers(0, 30, n_sales).tolist(),
                        rng.integers(0, 500, n_sales).tolist()):
            date = datetime.fromtimestamp((day - d) * 86400, tz=timezone.utc)
            out.append(f"sales,{date:%Y-%m-%d},{c}")
        return out


def _write(out_dir: str, k: int, lines: list[str]) -> str:
    name = f"f-{k:07d}.csv"
    tmp = os.path.join(out_dir, f".tmp-{name}")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    final = os.path.join(out_dir, name)
    os.replace(tmp, final)
    return final


def run_stream(args) -> None:
    tel = Telemetry(args.seed)
    interval = 1.0 / args.files_per_s
    per_file = max(1, round(args.rate / args.files_per_s))
    while not os.path.exists(args.go_file):
        time.sleep(0.005)
    with open(args.go_file) as f:
        start = float(f.read())
    log = open(args.log, "w", buffering=1)  # line-buffered: the driver tails it
    k = 0
    nxt = tel.lines(per_file, int(start * 1000))
    while not os.path.exists(args.stop_file):
        due = start + k * interval
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        _write(args.out, k, nxt)
        written = time.time()
        log.write(json.dumps({"file": f"f-{k:07d}.csv", "due_ms": int(due * 1000),
                              "rows": len(nxt), "late_ms": (written - due) * 1000}) + "\n")
        k += 1
        nxt = tel.lines(per_file, int((start + k * interval) * 1000))
    log.close()


def run_backlog(args) -> None:
    tel = Telemetry(args.seed, args.population)
    base_ms = 1_700_000_000_000
    step_ms = 1000 // args.files_per_s
    per_file = max(1, round(args.rate / args.files_per_s))
    with open(args.log, "w") as log:
        for k in range(args.files):
            due_ms = base_ms + k * step_ms
            lines = tel.lines(per_file, due_ms)
            path = _write(args.out, k, lines)
            os.utime(path, (due_ms / 1000, due_ms / 1000))
            log.write(json.dumps({"file": os.path.basename(path), "due_ms": due_ms,
                                  "rows": len(lines), "late_ms": 0.0}) + "\n")


# ---------------------------------------------------------------------------
# analytics tables
# ---------------------------------------------------------------------------

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
ADJ = "blue hot small old red new cold large".split()
NOUN = "bolt gear anvil widget rod plate ring gizmo".split()


def write_tables(out: str, sf: float, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)

    def save(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    def days(lo: str, hi: str, n: int) -> np.ndarray:
        a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
        d = a + rng.integers(0, int((b - a).astype(int)) + 1, n)
        return d.astype("datetime64[us]")

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = n_emb = int(50_000 * sf)
    i32 = pa.int32()

    save("region", {"r_regionkey": pa.array(range(5), i32),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    save("nation", {"n_nationkey": pa.array(range(25), i32),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    save("customer", {"c_custkey": np.arange(n_cust, dtype=np.int64),
                      "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                      "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                      "c_acctbal": money(-999.99, 9999.99, n_cust),
                      "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    save("supplier", {"s_suppkey": np.arange(n_supp, dtype=np.int64),
                      "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                      "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                      "s_acctbal": money(-999.99, 9999.99, n_supp)})
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    save("part", {"p_partkey": pk,
                  "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                             zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
                  "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                  "p_type": types[rng.integers(0, 6, n_part)],
                  "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                  "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    save("orders", {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                    "o_custkey": rng.integers(0, n_cust, n_ord),
                    "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                    "o_totalprice": money(1000.0, 500_000.0, n_ord),
                    "o_orderdate": days("1995-01-01", "2001-08-01", n_ord),
                    "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    save("lineitem", {"l_orderkey": rng.integers(0, n_ord, n_line),
                      "l_partkey": rng.integers(0, n_part, n_line),
                      "l_suppkey": rng.integers(0, n_supp, n_line),
                      "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
                      "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                      "l_extendedprice": money(900.0, 105_000.0, n_line),
                      "l_discount": rng.integers(0, 11, n_line) / 100.0,
                      "l_tax": rng.integers(0, 9, n_line) / 100.0,
                      "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
                      "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
                      "l_shipdate": days("1995-01-02", "2001-11-04", n_line)})
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    ev_types = np.array(["click", "error", "purchase", "signup", "view"])
    save("events", {"event_id": np.arange(n_ev, dtype=np.int64),
                    "ts": t0 + offs.astype("timedelta64[us]"),
                    "user_id": rng.integers(0, max(15, int(15_000 * sf)), n_ev),
                    "event_type": ev_types[rng.integers(0, 5, n_ev)],
                    "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
                    "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    langs = np.array(["en", "en", "de", "es", "fr", "zh"])
    save("documents", {"doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
                       "lang": langs[rng.integers(0, 6, n_doc)],
                       "source": [f"src{i % 20}" for i in range(n_doc)],
                       "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    save("embeddings", {"vec_id": np.arange(n_emb, dtype=np.int64),
                        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                        "label": pa.array(labels, i32)})


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    modes = ap.add_subparsers(dest="mode", required=True)
    sub = {m: modes.add_parser(m) for m in ("stream", "backlog", "tables")}
    for p in sub.values():
        p.add_argument("--out", required=True)
        p.add_argument("--seed", type=int, required=True)
    for m in ("stream", "backlog"):
        sub[m].add_argument("--rate", type=float, required=True, help="lines per second")
        sub[m].add_argument("--files-per-s", type=int, required=True)
        sub[m].add_argument("--log", required=True)
    sub["stream"].add_argument("--go-file", required=True)
    sub["stream"].add_argument("--stop-file", required=True)
    sub["backlog"].add_argument("--files", type=int, required=True)
    sub["backlog"].add_argument("--population", type=int, default=POPULATION)
    sub["tables"].add_argument("--sf", type=float, required=True, help="scale factor")
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    {"stream": run_stream, "backlog": run_backlog,
     "tables": lambda a: write_tables(a.out, a.sf, a.seed)}[args.mode](args)


if __name__ == "__main__":
    main()
