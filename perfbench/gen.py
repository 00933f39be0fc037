"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical inputs. The program under test only ever sees the files
these functions produce.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# month_end_batch: TPC-H-shaped star schema (same columns and types as the
# repository's sf* test tables; only the four tables the sendas mapping
# reads are generated)
# ---------------------------------------------------------------------------

# The shape of the repository's sf0.1 test tables (key ranges from 0,
# about 4 lines an order, order dates uniform over 1995-01 to 2001-08,
# so about 7.8 % of fact rows pass the month and plan filters) at
# ``scale`` times their row counts. Half of sf0.1 keeps a run inside
# the benchmark's time budget; perfbench/LAYERS.md gives the figures.
SF01_ROWS = {
    "lineitem_rows": 600_000,
    "orders": 150_000,
    "customers": 15_000,
    "parts": 20_000,
    "suppliers": 1_000,
}
MONTH_END_SCALE = 0.5
MONTH_END = {k: int(v * MONTH_END_SCALE) for k, v in SF01_ROWS.items()}
MONTH_END["max_linenumber"] = 7

_EPOCH_START = dt.date(1995, 1, 1)
_EPOCH_DAYS = (dt.date(2001, 8, 1) - _EPOCH_START).days + 1


def _ts_us(days: np.ndarray) -> pa.Array:
    base = np.datetime64(_EPOCH_START.isoformat(), "us")
    return pa.array(base + days.astype("timedelta64[D]").astype("timedelta64[us]"))


def gen_month_end(seed: int, out_dir: str) -> dict:
    """Write lineitem/orders/part/customer parquet files to ``out_dir``
    and return the input properties (row counts, month-filter
    selectivity)."""
    p = MONTH_END
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)

    n_orders = p["orders"]
    okey = np.arange(n_orders, dtype=np.int64)
    odays = rng.integers(0, _EPOCH_DAYS, n_orders)
    orders = pa.table(
        {
            "o_orderkey": okey,
            "o_custkey": rng.integers(0, p["customers"], n_orders).astype(np.int64),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_orders),
            "o_totalprice": np.round(rng.uniform(1_000, 500_000, n_orders), 2),
            "o_orderdate": _ts_us(odays),
            "o_orderpriority": rng.choice(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
                n_orders,
            ),
        }
    )

    n_li = p["lineitem_rows"]
    # like the reference fact, lines pick their order at random (about
    # 4 lines an order) and (orderkey, linenumber) is not a key
    li_order = rng.integers(0, n_orders, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": li_order.astype(np.int64),
            "l_partkey": rng.integers(0, p["parts"], n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, p["suppliers"], n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, p["max_linenumber"] + 1, n_li).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2_100, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": rng.choice(np.array(["R", "A", "N"]), n_li),
            "l_linestatus": rng.choice(np.array(["O", "F"]), n_li),
            "l_shipdate": _ts_us(rng.integers(1, _EPOCH_DAYS + 90, n_li)),
        }
    )

    pkey = np.arange(p["parts"], dtype=np.int64)
    part = pa.table(
        {
            "p_partkey": pkey,
            "p_name": np.char.add("part ", pkey.astype(str)),
            "p_brand": np.char.add("Brand#", rng.integers(11, 56, p["parts"]).astype(str)),
            "p_type": rng.choice(np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE"]), p["parts"]),
            "p_size": rng.integers(1, 51, p["parts"]).astype(np.int32),
            "p_retailprice": np.round(rng.uniform(900, 2_100, p["parts"]), 2),
        }
    )
    ckey = np.arange(p["customers"], dtype=np.int64)
    customer = pa.table(
        {
            "c_custkey": ckey,
            "c_name": np.char.add("Customer#", ckey.astype(str)),
            "c_nationkey": rng.integers(0, 25, p["customers"]).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9_999, p["customers"]), 2),
            "c_mktsegment": rng.choice(
                np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"]),
                p["customers"],
            ),
        }
    )
    for name, t in (
        ("lineitem", lineitem), ("orders", orders), ("part", part), ("customer", customer)
    ):
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))

    omonth = (
        np.datetime64(_EPOCH_START.isoformat()) + odays.astype("timedelta64[D]")
    ).astype("datetime64[M]").astype(int) % 12 + 1
    kept = (li_order % 13 != 0) & (li_order % 17 != 0) & (omonth[li_order] == 3)
    return {
        "lineitem_rows": n_li,
        "orders": n_orders,
        "customers": p["customers"],
        "parts": p["parts"],
        "month_filter_selectivity": round(float(kept.mean()), 4),
    }


# ---------------------------------------------------------------------------
# corpus_refresh_waves: documents with planted exact / near duplicates and
# low-quality docs
# ---------------------------------------------------------------------------

CORPUS = {
    "waves": 12,
    "docs_per_wave": 200,
    "exact_dup_share": 0.10,
    "near_dup_share": 0.10,
    "low_quality_share": 0.10,
    "vocab": 3_000,
    "min_words": 60,
    "max_words": 110,
}

_STOP = ["the", "and", "of", "to", "in", "is", "that", "for", "with", "on"]
_NONALNUM = re.compile(r"[^a-z0-9]+")


def normalize(text: str) -> str:
    """Lowercase, non-alphanumeric runs to one space, trim — the
    canonical form both exact and near dedup compare."""
    return _NONALNUM.sub(" ", text.lower()).strip()


def fingerprint(text: str) -> str:
    return hashlib.md5(normalize(text).encode()).hexdigest()


def shingles(text: str, n: int = 3) -> frozenset:
    toks = normalize(text).split(" ")
    if len(toks) < n:
        return frozenset()
    return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    if not a and not b:
        return 0.0
    return len(a & b) / len(a | b)


def gen_corpus(seed: int) -> tuple[list[list[dict]], dict]:
    """Return ``waves`` (each a list of {doc_id, text, kind, src}) and
    the input properties. ``kind`` is one of original / exact / near /
    low; ``src`` is the original a duplicate was copied from. Sources
    always precede their copies in doc_id order, so the program's
    history-canonical, lowest-id-wins policy rejects the copy."""
    p = CORPUS
    rng = np.random.default_rng([seed, 2])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted(
        {
            "".join(rng.choice(letters, int(k)))
            for k in rng.integers(4, 9, p["vocab"] * 2)
        }
        - set(_STOP)
    )[: p["vocab"]]
    vocab = np.array(vocab)
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    zipf /= zipf.sum()

    def original_text(n_words: int) -> list[str]:
        words = list(rng.choice(vocab, n_words, p=zipf))
        for pos in rng.choice(n_words, 6, replace=False):
            words[pos] = _STOP[int(rng.integers(0, len(_STOP)))]
        return words

    originals: list[tuple[int, list[str]]] = []
    waves: list[list[dict]] = []
    doc_id = 0
    for _w in range(p["waves"]):
        wave = []
        for _ in range(p["docs_per_wave"]):
            r = rng.random()
            kind = "original"
            if originals and r < p["exact_dup_share"]:
                kind = "exact"
            elif originals and r < p["exact_dup_share"] + p["near_dup_share"]:
                kind = "near"
            elif r < p["exact_dup_share"] + p["near_dup_share"] + p["low_quality_share"]:
                kind = "low"
            src = None
            if kind == "original":
                words = original_text(int(rng.integers(p["min_words"], p["max_words"] + 1)))
                originals.append((doc_id, words))
                text = " ".join(words)
            elif kind == "exact":
                src, words = originals[int(rng.integers(0, len(originals)))]
                # differs in case and punctuation only: same fingerprint
                text = " ".join(words).upper().replace(" ", ", ", 3) + "."
            elif kind == "near":
                src, words = originals[int(rng.integers(0, len(originals)))]
                words = list(words)
                # one or two substitutions plus one appended word keep
                # word-3-shingle Jaccard >= 0.8 for docs of 60+ words
                for pos in rng.choice(len(words), int(rng.integers(1, 3)), replace=False):
                    words[pos] = str(rng.choice(vocab))
                text = " ".join(words) + " " + str(rng.choice(vocab))
            else:
                # fails the word-count rule of the quality panel
                text = " ".join(original_text(int(rng.integers(12, 40))))
            wave.append({"doc_id": doc_id, "text": text, "kind": kind, "src": src})
            doc_id += 1
        waves.append(wave)
    n = doc_id
    kinds = [d["kind"] for w in waves for d in w]
    props = {
        "waves": p["waves"],
        "docs_per_wave": p["docs_per_wave"],
        "docs": n,
        "exact_dup_share": round(kinds.count("exact") / n, 4),
        "near_dup_share": round(kinds.count("near") / n, 4),
        "low_quality_share": round(kinds.count("low") / n, 4),
    }
    return waves, props


# ---------------------------------------------------------------------------
# stream_gap_fold: event commits for a txlog source table
# ---------------------------------------------------------------------------

STREAM = {
    "groups": 2_000,
    "events_per_commit": 400,
    # event time each commit spans; commits follow each other in event
    # time, so event time is monotone per group across commits and no
    # event falls behind the operator's one-day watermark
    "commit_span_hours": 24,
    # backlog landed before the closed drain
    "backlog_commits": 10,
    # open-loop phase: one commit every 1 / rate seconds
    "open_loop_commits": 6,
    "rate_commits_per_s": 1.0,
}

_STREAM_T0 = np.datetime64("2024-01-01T00:00:00", "us")


def stream_commit(rng: np.random.Generator, c: int, first_id: int) -> pa.Table:
    """Events of commit ``c``: random groups, event times inside the
    commit's span, ids from ``first_id``."""
    p = STREAM
    n = p["events_per_commit"]
    span_us = p["commit_span_hours"] * 3_600_000_000
    offs = c * span_us + np.sort(rng.integers(0, span_us, n))
    return pa.table(
        {
            "grp": rng.integers(0, p["groups"], n).astype(np.int64),
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": pa.array(_STREAM_T0 + offs.astype("timedelta64[us]")),
        }
    )


def gen_stream(seed: int) -> tuple[list[pa.Table], list[pa.Table], dict]:
    """Return the backlog commits, the open-loop commits (after them in
    event time) and the input properties."""
    p = STREAM
    rng = np.random.default_rng([seed, 3])
    n = p["events_per_commit"]
    total = p["backlog_commits"] + p["open_loop_commits"]
    commits = [stream_commit(rng, c, c * n) for c in range(total)]
    props = dict(p)
    props["events"] = total * n
    return commits[: p["backlog_commits"]], commits[p["backlog_commits"]:], props
