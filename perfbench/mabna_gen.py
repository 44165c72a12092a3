"""Seeded generator of Mabna-shaped API data for the `mabna_ingest` workload,
and the plain-Python answer the ingest pipeline must reproduce.

The feed mirrors the reference's endpoints: `exchange/trades` for the
instrument types in TYPES, `exchange/indexvalues`, and the dimension tables
`instruments`, `assets`, `categories`, `exchanges`, `indexes`. Batch 0 is
the full-refresh snapshot; batch k >= 1 is the k-th 15-minute increment.
Every record carries a per-table increasing `meta.version`.

Edge cases the feed contains on purpose:
  - nested objects (`instrument.id`, `meta.version`, `stock.company.id`);
  - nulls in required columns (rows the staging transform must drop);
  - +Inf and -Inf pct rows (close == change, so the pct denominator is 0);
  - skewed instruments (Zipf-like weights) and ids missing from the dims;
  - restated keys: a later record for an earlier (day, instrument) key, at a
    higher `meta.version`, which keep-last must prefer;
  - assets whose `categories` is null or empty.
"""
import json
import math
import os
import random
from collections import defaultdict

# the instruments dim lists three instrument types; trades are fetched for
# the types in TYPES
INSTRUMENT_TYPES = ["share", "bond", "fund"]
TYPES = ["share"]
FACTS = [f"src_exchange_trades_{t}" for t in TYPES] + ["src_exchange_indexvalues"]
DIMS = ["src_exchange_instruments", "src_exchange_assets",
        "src_exchange_categories", "src_exchange_exchanges",
        "src_exchange_indexes"]
# rows per fact table in the full-refresh snapshot, and per 15-minute batch
INITIAL = {"trades": 3000, "indexvalues": 1500}
PER_BATCH = {"trades": 30, "indexvalues": 15}
WINDOW = ("1399/01/01", "1402/12/29")


def _kind(table):
    return "trades" if "trades" in table else "indexvalues"


class Feed:
    """All records of one seed: table -> list of (batch, version, record)."""

    def __init__(self, seed, batches):
        self.seed, self.batches = seed, batches
        rng = random.Random(seed)
        self.rows = {}
        self._dims(rng)
        for table in FACTS:
            self.rows[table] = self._facts(rng, table)

    # ------------------------------------------------------------ dims
    def _dims(self, rng):
        inst = []
        for i in range(60):
            inst.append({"id": 300 + i, "code": f"C{300 + i}", "isin": f"IR{300 + i:04d}",
                         "name": f"Inst{300 + i}", "type": INSTRUMENT_TYPES[i % 3],
                         "stock": {"company": {"id": 40 + i % 17}},
                         "asset": {"id": 80 + rng.randrange(20)},
                         "exchange": {"id": 91 + rng.randrange(3)}})
        assets = []
        for a in range(80, 100):
            if a in (83, 97):
                cats = None
            elif a == 88:
                cats = []
            else:
                cats = [{"id": 7 + rng.randrange(6), "n": f"n{j}"}
                        for j in range(1 + rng.randrange(2))]
            assets.append({"id": a, "categories": cats})
        # category 12 is referenced by assets but missing here
        cats = [{"id": c, "short_name": f"Cat{c}"} for c in range(7, 12)]
        exch = [{"id": 91, "title": "Main Market"}, {"id": 92, "title": "Bond Market"},
                {"id": 93, "title": "Fund Market"}]
        idx = [{"id": 70 + i, "name": f"Index{70 + i}"} for i in range(5)]
        for table, recs in zip(DIMS, [inst, assets, cats, exch, idx]):
            out = []
            for v, r in enumerate(recs, start=1):
                r = dict(r)
                r["meta"] = {"version": v}
                out.append((0, v, r))
            self.rows[table] = out
        self.instruments = {t: [r["id"] for r in inst if r["type"] == t]
                            for t in INSTRUMENT_TYPES}

    # ------------------------------------------------------------ facts
    @staticmethod
    def _date_time(rng):
        return (f"{rng.randint(1398, 1403)}{rng.randint(1, 12):02d}{rng.randint(1, 28):02d}"
                f"{rng.randint(9, 15):02d}{rng.randrange(60):02d}{rng.randrange(60):02d}")

    def _facts(self, rng, table):
        kind = _kind(table)
        itype = table.rsplit("_", 1)[1] if kind == "trades" else None
        out, version, next_id = [], 1000, 1
        keys = []  # earlier (date_time, entity) pairs, for restatements
        for batch in range(self.batches + 1):
            n = INITIAL[kind] if batch == 0 else PER_BATCH[kind]
            for _ in range(n):
                version += 1 + rng.randrange(3)
                if keys and rng.random() < 0.1:
                    dt, entity = keys[rng.randrange(len(keys))]
                else:
                    dt, entity = self._date_time(rng), self._entity(rng, kind, itype)
                    keys.append((dt, entity))
                rec = self._record(rng, kind, itype, next_id, dt, entity)
                rec["meta"] = {"version": version}
                out.append((batch, version, rec))
                next_id += 1
        return out

    def _entity(self, rng, kind, itype):
        if kind == "trades":
            if rng.random() < 0.02:
                return 999  # not in the instruments dim
            ids = self.instruments[itype]
            # Zipf-like skew: the first instruments carry most trades
            return ids[min(int(rng.paretovariate(1.2)) - 1, len(ids) - 1)]
        return 70 + rng.randrange(6)  # indexvalues; index 75 is not in the dim

    @staticmethod
    def _priced(rng):
        close = round(rng.uniform(100.0, 5000.0), 2)
        change = round(rng.uniform(-0.05, 0.05) * close, 2)
        r = rng.random()
        if r < 0.01:
            change = close  # pct = +Inf
        elif r < 0.015:
            close = -close  # pct = -Inf
            change = close
        elif r < 0.035:
            close = None  # required column missing
        return close, change

    def _record(self, rng, kind, itype, rid, dt, entity):
        if kind == "trades":
            close, change = self._priced(rng)
            px = abs(close) if close is not None else 1000.0
            volume = rng.randrange(1, 2_000_000)
            return {"id": rid, "date_time": dt, "open_price": round(px * 0.99, 2),
                    "high_price": round(px * 1.02, 2), "low_price": round(px * 0.97, 2),
                    "close_price": close, "close_price_change": change,
                    "trade_count": rng.randrange(1, 500), "volume": volume,
                    "value": round(px * volume, 2),
                    "instrument": {"id": entity, "type": itype}}
        close, change = self._priced(rng)
        return {"id": rid, "date_time": dt, "open_value": round(rng.uniform(90, 110), 2),
                "low_value": round(rng.uniform(80, 90), 2),
                "high_value": round(rng.uniform(110, 120), 2),
                "close_value": close, "close_value_change": change,
                "index": {"id": entity}}

    # ------------------------------------------------------------ output
    def write(self, out_dir):
        """One file per table, a line per record: batch, version, JSON."""
        os.makedirs(out_dir, exist_ok=True)
        for table, recs in self.rows.items():
            with open(os.path.join(out_dir, f"{table}.tsv"), "w") as f:
                for batch, version, rec in recs:
                    f.write(f"{batch}\t{version}\t{json.dumps(rec, separators=(',', ':'))}\n")

    def served(self, table, last_batch):
        return [r for b, _, r in self.rows[table] if b <= last_batch]

    def batch_rows(self, table, batch):
        return [r for b, _, r in self.rows[table] if b == batch]


# ---------------------------------------------------------------- expected
def _jdate(dt):
    return f"{dt[0:4]}/{dt[4:6]}/{dt[6:8]}"


def _pct(change, base):
    denom = base - change
    if denom == 0:
        return math.nan if change == 0 else math.copysign(math.inf, change)
    return change / denom


def _keep_last(rows, key):
    best = {}
    for r in rows:
        k = tuple(r[c] for c in key)
        if k not in best or r["meta_version"] > best[k]["meta_version"]:
            best[k] = r
    return list(best.values())


def _in_window(j):
    return WINDOW[0] <= j <= WINDOW[1]


def expected_production(feed, last_batch):
    """Every production table after `last_batch`: keep-last by
    `meta_version` over everything served, through the same joins and
    filters as the pipeline, computed without the engine."""
    dims = {t: feed.served(t, 0) for t in DIMS}
    inst = {r["id"]: r for r in dims["src_exchange_instruments"]}
    asset_cat = {r["id"]: r["categories"][0]["id"] for r in dims["src_exchange_assets"]
                 if r["categories"]}
    cats = {r["id"]: r["short_name"] for r in dims["src_exchange_categories"]}
    exch = {r["id"]: r["title"] for r in dims["src_exchange_exchanges"]}
    idx = {r["id"]: r["name"] for r in dims["src_exchange_indexes"]}
    out = {}
    for t in TYPES:
        rows = []
        for r in feed.served(f"src_exchange_trades_{t}", last_batch):
            if r["close_price"] is None:
                continue
            i = inst.get(r["instrument"]["id"])
            if i is None or i["asset"]["id"] not in asset_cat:
                continue
            cat = cats.get(asset_cat[i["asset"]["id"]])
            market = exch.get(i["exchange"]["id"])
            j = _jdate(r["date_time"])
            if cat is None or market is None or not _in_window(j):
                continue
            rows.append({"id": r["id"], "j_date": j, "name": i["name"],
                         "close_price": r["close_price"],
                         "pct": _pct(r["close_price_change"], r["close_price"]),
                         "value": r["value"], "category": cat, "market": market,
                         "meta_version": r["meta"]["version"]})
        out[f"prd_trades_{t}"] = _keep_last(rows, ("j_date", "name"))
    rows = []
    for r in feed.served("src_exchange_indexvalues", last_batch):
        j = _jdate(r["date_time"])
        name = idx.get(r["index"]["id"])
        if r["close_value"] is None or name is None or not _in_window(j):
            continue
        rows.append({"id": r["id"], "j_date": j, "index_name": name,
                     "close_value": r["close_value"],
                     "pct": _pct(r["close_value_change"], r["close_value"]),
                     "meta_version": r["meta"]["version"]})
    out["prd_indexvalues"] = _keep_last(rows, ("j_date", "index_name"))
    return out


def expected_dashboard(production):
    """The dashboard read: trades per (Jalali year, month, category)."""
    groups = defaultdict(lambda: [0, 0])
    for t in TYPES:
        for r in production[f"prd_trades_{t}"]:
            g = groups[(int(r["j_date"][0:4]), int(r["j_date"][5:7]), r["category"])]
            g[0] += 1
            g[1] = max(g[1], r["meta_version"])
    return {k: tuple(v) for k, v in groups.items()}


def expected_fetch(feed, batch):
    """Rows each incremental fetch must return past the watermark."""
    return {t: len(feed.batch_rows(t, batch)) for t in FACTS}

