"""Seeded input generator for the benchmark: numpy + pyarrow, no Spark.

Two datasets:

* a SpaceParts-shaped landing directory (the sales star that
  ``gold_fact_sales`` reads: ``fact_invoices``, ``dim_budget_rate``,
  ``dim_invoice_doctype``) with the dirty rows of FIXTURES.md §2, plus
  per-round deltas appended as new files;
* a TPC-H-shaped analytics directory (the ten tables the query registry
  reads) for the query mix.

Every file is a pure function of the seed. The landing's writers return
what they injected (distinct keys, quarantinable rows, changed and new
keys per round) so the workloads can check the pipeline's outputs
against it.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the silver null tokens (functions/scalars.py NULL_TOKENS), upper-cased
NULL_TOKENS = ("", "NULL", "N/A", "UNKNOWN", "NONE", "#N/A")
HORIZON_YEAR = 2040  # a billing date this far out is always past today + 730 days
UTC = dt.timezone.utc
VALUE_MAX, VALUE_MIN = 1e8, -1e7

BASE_TS = dt.datetime(2025, 1, 1)
ROUND_TS = dt.datetime(2025, 9, 1)

#: from_currency -> EUR rate; XXX invoices have no rate (gold defaults 1.0)
RATES = {"USD": 0.92, "GBP": 1.17, "JPY": 0.0061, "CHF": 1.04, "CNY": 0.13,
         "CAD": 0.68, "AUD": 0.61, "SEK": 0.087, "NOK": 0.086, "DKK": 0.134,
         "PLN": 0.23, "INR": 0.011, "BRL": 0.17, "MXN": 0.05, "ZAR": 0.05}
CURRENCIES = list(RATES) + ["XXX"]
DOCTYPES = [("F2", "Invoice", "Standard invoice", 1, 1),
            ("G2", "Adjustment", "Credit memo", 2, 2),
            ("L2", "Adjustment", "Debit memo", 3, 2),
            ("RE", "Return", "Returns", 4, 3),
            ("S1", None, "Cancellation", 5, 4)]
DOCTYPE_CODES = [d[0] for d in DOCTYPES] + ["Z9"]  # Z9: no doctype row

N_CUSTOMERS, N_PRODUCTS = 3911, 25600
INVOICE_VALUE_COLS = ("net_invoice_value", "net_invoice_cogs", "delivery_cost",
                      "freight", "taxes_commercial_fees", "net_invoice_quantity")
INVOICE_SCHEMA = pa.schema(
    [("customer_key", pa.string()), ("product_key", pa.string()),
     ("billing_date", pa.int64()), ("ship_date", pa.int64()),
     ("billing_document_number", pa.string()),
     ("billing_document_line_item_number", pa.string()),
     ("billing_document_type_code", pa.string())]
    + [(c, pa.float64()) for c in INVOICE_VALUE_COLS]
    + [("local_currency", pa.string()), ("otd_indicator", pa.int64()),
       ("dwcreateddate", pa.timestamp("us"))])


def norm_key(s: str | None) -> str | None:
    """The silver business-key rule: upper(trim), null tokens to NULL."""
    if s is None:
        return None
    s = s.strip().upper()
    return None if s in NULL_TOKENS else s


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


class SalesLanding:
    """The landing tables and their round deltas for one seed.

    ``rows`` holds every invoice row written so far as plain dicts, so
    the expected silver/gold state is recomputed from the same rows the
    files hold (keep-latest by ``dwcreateddate``, quarantine, null-token
    keys)."""

    def __init__(self, root: str, seed: int, n_invoices: int):
        self.root = root
        self.rng = np.random.default_rng(seed)
        self.n_invoices = n_invoices
        self.rows: list[dict] = []
        self.next_doc = 0
        self.rounds = 0
        self.bytes_written = 0

    # -- rows -------------------------------------------------------------
    def _invoices(self, n: int, ts0: dt.datetime, span_s: int,
                  keys: list[tuple] | None = None) -> list[dict]:
        """``n`` clean invoice rows; ``keys`` re-sends existing business
        keys (customer, product, billing date, doc, line) with new values."""
        rng = self.rng
        if keys is None:
            docs = self.next_doc + np.arange(n) // 4
            self.next_doc = int(docs[-1]) + 1 if n else self.next_doc
            keys = [(f"C{c:05d}", f"P{p:06d}", int(b), f"INV{d:08d}", str(i % 4 + 1))
                    for c, p, b, d, i in zip(
                        rng.integers(0, N_CUSTOMERS, n), rng.integers(0, N_PRODUCTS, n),
                        1704067200 + rng.integers(0, 730, n) * 86400, docs, range(n))]
        vals = rng.uniform(-500, 50_000, (n, len(INVOICE_VALUE_COLS))).round(2)
        offs = np.sort(rng.choice(span_s, n, replace=False))
        cur = rng.integers(0, len(CURRENCIES), n)
        doc = rng.integers(0, len(DOCTYPE_CODES), n)
        ship = rng.integers(0, 20, n) * 86400
        rows = []
        for j, (ck, pk, bill, dn, ln) in enumerate(keys):
            r = {"customer_key": ck, "product_key": pk, "billing_date": bill,
                 "ship_date": bill + int(ship[j]), "billing_document_number": dn,
                 "billing_document_line_item_number": ln,
                 "billing_document_type_code": DOCTYPE_CODES[doc[j]],
                 "local_currency": CURRENCIES[cur[j]], "otd_indicator": int(ship[j] < 10 * 86400),
                 "dwcreateddate": ts0 + dt.timedelta(seconds=int(offs[j]))}
            r.update(zip(INVOICE_VALUE_COLS, vals[j].tolist()))
            rows.append(r)
        return rows

    def _dirty(self, rows: list[dict]) -> None:
        """FIXTURES §2 in place: padded/lower-case and null-token keys,
        NaN/Inf doubles, null-token strings."""
        rng = self.rng
        for r in rows:
            u = rng.random()
            if u < 0.005:
                r["customer_key"] = f"  {r['customer_key'].lower()} "
            elif u < 0.008:
                r["customer_key"] = str(rng.choice(["N/A", "null", "", " UNKNOWN "]))
            elif u < 0.010:
                r["net_invoice_cogs"] = float(rng.choice([np.nan, np.inf, -np.inf]))
            elif u < 0.012:
                r["local_currency"] = "  NONE "

    def _bad(self, n: int, ts0: dt.datetime) -> list[dict]:
        """New-key rows silver must quarantine: future dates or extreme values."""
        rows = self._invoices(n, ts0, 3600)
        for j, r in enumerate(rows):
            if j % 2:
                r["billing_date"] = int(dt.datetime(HORIZON_YEAR, 1, 1, tzinfo=UTC).timestamp())
            else:
                r["net_invoice_value"] = 5e8
        return rows

    def _write_invoices(self, rows: list[dict], part: int) -> None:
        cols = {c: [r.get(c) for r in rows] for c in INVOICE_SCHEMA.names}
        t = pa.table(cols, schema=INVOICE_SCHEMA)
        self.bytes_written += _write(t, os.path.join(self.root, "fact_invoices", f"part-{part:05d}.parquet"))
        self.rows.extend(rows)

    # -- public -----------------------------------------------------------
    def write_base(self) -> dict:
        rng = self.rng
        n = self.n_invoices
        rows = self._invoices(n, BASE_TS, 180 * 86400)
        self._dirty(rows)
        for r in rows:  # half the dates in ns, half in s (FIXTURES §2.2)
            if rng.random() < 0.5:
                r["billing_date"] *= 1_000_000_000
                r["ship_date"] *= 1_000_000_000
        # keep-latest: earlier copies of 1% of the keys with other values
        dup_idx = rng.choice(n, n // 100, replace=False)
        dups = self._invoices(len(dup_idx), BASE_TS - dt.timedelta(days=30), 86400 * 20,
                              keys=[self._key(rows[i]) for i in dup_idx])
        bad = self._bad(max(n // 1000, 2), BASE_TS + dt.timedelta(days=1))
        allnull = [{c: None for c in INVOICE_SCHEMA.names} for _ in range(3)]
        self._write_invoices(rows + dups + bad + allnull, 0)

        rate_rows = [(k, "EUR", v) for k, v in RATES.items()]
        rate_rows.append(rate_rows[0])  # exact duplicate dim row
        ts = [BASE_TS + dt.timedelta(hours=i) for i in range(len(rate_rows))]
        rates = pa.table({"from_currency": [r[0] for r in rate_rows],
                          "to_currency": [r[1] for r in rate_rows],
                          "rate": [r[2] for r in rate_rows], "dwcreateddate": ts},
                         schema=pa.schema([("from_currency", pa.string()), ("to_currency", pa.string()),
                                           ("rate", pa.float64()), ("dwcreateddate", pa.timestamp("us"))]))
        self.bytes_written += _write(rates, os.path.join(self.root, "dim_budget_rate", "part-00000.parquet"))
        doctype = pa.table({
            "billing_document_type_code": [d[0] for d in DOCTYPES],
            "group_col": [d[1] for d in DOCTYPES], "text": [d[2] for d in DOCTYPES],
            "doc_type_ordinal": [d[3] for d in DOCTYPES], "group_ordinal": [d[4] for d in DOCTYPES],
            "dwcreateddate": [BASE_TS] * len(DOCTYPES)},
            schema=pa.schema([("billing_document_type_code", pa.string()), ("group_col", pa.string()),
                              ("text", pa.string()), ("doc_type_ordinal", pa.int32()),
                              ("group_ordinal", pa.int32()), ("dwcreateddate", pa.timestamp("us"))]))
        self.bytes_written += _write(doctype, os.path.join(self.root, "dim_invoice_doctype", "part-00000.parquet"))
        return {"gold_rows": len(self.expected_gold_keys()), "quarantinable": len(bad)}

    def write_round(self) -> dict:
        """Append one delta file: ~1% of the live keys re-sent with new
        values, ~0.5% new keys, a few new-key rows silver quarantines.
        Returns the distinct keys gold must merge and the delta's bytes."""
        self.rounds += 1
        ts0 = ROUND_TS + dt.timedelta(days=self.rounds)
        expected = self.expected_gold_keys()
        live = sorted((k for k in expected if k[2] is not None), key=repr)
        pick = self.rng.choice(len(live), max(self.n_invoices // 100, 1), replace=False)
        changed = self._invoices(len(pick), ts0, 6 * 3600,
                                 keys=[expected[live[i]][1] for i in pick])
        new = self._invoices(max(self.n_invoices // 200, 1), ts0, 6 * 3600)
        bad = self._bad(4, ts0)
        before = self.bytes_written
        self._write_invoices(changed + new + bad, self.rounds)
        merged = {self._key_norm(r) for r in changed + new}
        return {"merged_keys": len(merged), "changed": len(changed), "new": len(new),
                "quarantinable": len(bad), "delta_bytes": self.bytes_written - before}

    # -- expected state ---------------------------------------------------
    @staticmethod
    def _key(r: dict) -> tuple:
        bill = r["billing_date"]
        if bill is not None and bill > 1_000_000_000_000:
            bill //= 1_000_000_000
        return (r["customer_key"], r["product_key"], bill,
                r["billing_document_number"], r["billing_document_line_item_number"])

    @staticmethod
    def _key_norm(r: dict) -> tuple:
        """The silver dedup key (columns named *_key / *_number)."""
        return (norm_key(r["customer_key"]), norm_key(r["product_key"]),
                r["billing_document_number"], r["billing_document_line_item_number"])

    @staticmethod
    def _quarantined(r: dict) -> bool:
        horizon = int(dt.datetime(HORIZON_YEAR - 1, 1, 1, tzinfo=UTC).timestamp())
        for c in ("billing_date", "ship_date"):
            v = r[c]
            if v is not None and (v // 1_000_000_000 if v > 1_000_000_000_000 else v) > horizon:
                return True
        v = r["net_invoice_value"]
        return v is not None and not np.isnan(v) and (v > VALUE_MAX or v < VALUE_MIN)

    def expected_gold_keys(self) -> dict:
        """silver key -> (latest row, its source key) for every key whose
        latest row is clean: the rows gold_fact_sales must hold."""
        latest: dict = {}
        for r in self.rows:
            k = self._key_norm(r)
            cur = latest.get(k)
            if cur is None or (r["dwcreateddate"] is not None
                               and (cur["dwcreateddate"] is None or r["dwcreateddate"] > cur["dwcreateddate"])):
                latest[k] = r
        return {k: (r, self._key(r)) for k, r in latest.items() if not self._quarantined(r)}


WORDS = ("a the key agg row scan slow fast table value part hash merge batch spark "
         "line sort window data column join small big query order filter group stream "
         "vector customer").split()


def write_analytics(root: str, seed: int) -> int:
    """The ten TPC-H-shaped tables the query registry reads, at the
    testdata sf0.01 shape (60k lineitem rows). Returns the bytes written."""
    rng = np.random.default_rng(seed)
    n_cust, n_part, n_supp, n_ord, n_line, n_ev, n_doc = 1500, 2000, 100, 15_000, 60_000, 10_000, 500
    day = np.datetime64("1995-01-01", "us")
    price = lambda lo, hi, n: rng.uniform(lo, hi, n).round(2)  # noqa: E731
    okeys = np.sort(rng.integers(0, n_ord, n_line))
    tables = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        "customer": {"c_custkey": np.arange(n_cust, dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                     "c_acctbal": price(-999.99, 9999.99, n_cust),
                     "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                                 "HOUSEHOLD", "MACHINERY"], n_cust)},
        "supplier": {"s_suppkey": np.arange(n_supp, dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                     "s_acctbal": price(-999.99, 9999.99, n_supp)},
        "part": {"p_partkey": np.arange(n_part, dtype=np.int64),
                 "p_name": [f"{a} {b}" for a, b in zip(
                     rng.choice(["red", "small", "hot", "old", "large", "blue", "green", "cold"], n_part),
                     rng.choice(["plate", "widget", "ring", "rod", "gear", "bolt", "pipe", "valve"], n_part))],
                 "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                 "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
                 "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                 "p_retailprice": (900 + (np.arange(n_part) % 1000) / 10).round(2)},
        "orders": {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                   "o_custkey": rng.integers(0, n_cust, n_ord),
                   "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                   "o_totalprice": price(1000, 500_000, n_ord),
                   "o_orderdate": day + rng.integers(0, 2400, n_ord) * np.timedelta64(1, "D"),
                   "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                  "4-NOT SPECIFIED", "5-LOW"], n_ord)},
        "lineitem": {"l_orderkey": okeys, "l_partkey": rng.integers(0, n_part, n_line),
                     "l_suppkey": rng.integers(0, n_supp, n_line),
                     "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
                     "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                     "l_extendedprice": price(900, 105_000, n_line),
                     "l_discount": rng.integers(0, 11, n_line) / 100,
                     "l_tax": rng.integers(0, 9, n_line) / 100,
                     "l_returnflag": rng.choice(["A", "N", "R"], n_line),
                     "l_linestatus": rng.choice(["F", "O"], n_line),
                     "l_shipdate": day + rng.integers(1, 2500, n_line) * np.timedelta64(1, "D")},
        "events": {"event_id": np.arange(n_ev, dtype=np.int64),
                   "ts": np.datetime64("2024-01-01", "us")
                   + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)) * np.timedelta64(1, "us"),
                   "user_id": rng.integers(0, 150, n_ev),
                   "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
                   "value": price(0.01, 490, n_ev),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
    }
    # documents: random word runs, with exact and near duplicates for the
    # dedup stages of the corpus funnel
    texts = [" ".join(rng.choice(WORDS, rng.integers(8, 90))) for _ in range(n_doc)]
    for i in range(0, n_doc, 10):
        src = int(rng.integers(0, n_doc))
        texts[i] = texts[src] if i % 20 else texts[src] + " " + str(rng.choice(WORDS))
    tables["documents"] = {"doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
                           "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
                           "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
                           "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_doc)
    emb = (centers[labels] + rng.normal(0, 0.5, (n_doc, 64))).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = {"vec_id": np.arange(n_doc, dtype=np.int64),
                            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
                            "label": labels.astype(np.int32)}
    total = 0
    for name, cols in tables.items():
        total += _write(pa.table(cols), os.path.join(root, f"{name}.parquet"))
    return total
