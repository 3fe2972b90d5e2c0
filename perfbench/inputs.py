"""Seeded benchmark inputs.

Everything here is a function of ``seed``: the same seed gives the same
rows.  Transcripts come from the package's own generator
(``generate_transcripts``); the benchmark then reshapes them per
workload.  The star-schema tables and the planted PII table are built
with NumPy and written with pyarrow, so no input is read from outside the
checkout.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from discoverx_spark.transcripts import (TRANSCRIPTS_SCHEMA,
                                         generate_transcripts,
                                         generate_transcripts_pandas)

# hex digit -> consonant: the appended word has no digit and none of
# '@', ':' or '/', so the PII pre-gate of the fused UDF sees the same rows
_HEX = "0123456789abcdef"
_LETTERS = "bcdfghjklmnpqrst"


def _key(seed: int, *cols) -> "F.Column":
    return F.xxhash64(F.lit(seed), *cols)


def distinct_turns(spark: SparkSession, seed: int, n_convs: int,
                   partitions: int) -> DataFrame:
    """Stock transcripts with every non-blank text made unique and ~5% of
    turns lengthened to 2-4 KB (below ``PipelineConfig.max_chars``)."""
    base = generate_transcripts(spark, n_convs, seed=seed,
                                num_partitions=partitions)
    word = F.translate(F.lower(F.hex(_key(seed, "conv_id", "turn_idx"))),
                       _HEX, _LETTERS)
    unique = F.concat(F.col("text"), F.lit(" "), word)
    long_key = _key(seed + 1, "conv_id", "turn_idx")
    target = F.lit(2000) + F.pmod(long_key, F.lit(2000))
    repeats = F.ceil(target / (F.length(unique) + 1)).cast("int")
    lengthened = F.expr("repeat(concat(_u, ' '), _r)")
    nonblank = F.trim(F.col("text")) != ""
    return (base
            .withColumn("_u", unique)
            .withColumn("_r", repeats)
            .withColumn("text", F.when(~nonblank, F.col("text"))
                        .when(F.pmod(long_key, F.lit(20)) == 0, lengthened)
                        .otherwise(F.col("_u")))
            .drop("_u", "_r"))


def _words(rng: np.random.RandomState, n: int) -> list:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return ["".join(rng.choice(letters, size=rng.randint(4, 9)))
            for _ in range(n)]


def planted_conversations(seed: int, n_plants: int, turns: int = 6):
    """``n_plants`` conversations of random-word turns plus a copy of each
    under a new ``conv_id`` with its turns in reverse order.

    Returns ``(pandas frame, conv pairs, turn-id pairs)``; turn ids are
    ``conv_id:turn_idx``.  Random words keep each planted text out of
    every other LSH bucket, so the hot-bucket cap cannot hide a pair.
    """
    rng = np.random.RandomState(seed % (2**31 - 1))
    rows, conv_pairs, turn_pairs = [], [], []
    ts = pd.Timestamp("2025-02-01", tz="UTC")
    for p in range(n_plants):
        orig, copy = f"plant-{seed}-{p:04d}", f"plantcopy-{seed}-{p:04d}"
        texts = [" ".join(_words(rng, 12)) for _ in range(turns)]
        for t, text in enumerate(texts):
            role = ("user", "assistant")[t % 2]
            rows.append((orig, t, role, text, None, ts))
            rc = turns - 1 - t
            rows.append((copy, rc, ("user", "assistant")[rc % 2], text,
                         None, ts))
            turn_pairs.append(tuple(sorted((f"{orig}:{t}", f"{copy}:{rc}"))))
        conv_pairs.append(tuple(sorted((orig, copy))))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text",
                                      "tool", "ts"])
    return pdf, conv_pairs, turn_pairs


# the generator's consent boilerplate, repeated by the hot "tool loop"
# conversations so the shared band bucket outgrows the pair cap
BOILERPLATE = "I agree to the terms and conditions."


def hot_conversations(seed: int, n_convs: int, turns: int) -> pd.DataFrame:
    """``n_convs`` conversations of exactly ``turns`` turns from the stock
    generator, two turns in three replaced by the boilerplate line."""
    pdf = generate_transcripts_pandas(n_convs, seed=seed, hot_frac=1.0,
                                      hot_turns=turns)
    pdf = pdf[pdf["turn_idx"] < turns].copy()
    pdf["conv_id"] = "hot-" + pdf["conv_id"]
    pdf.loc[pdf["turn_idx"] % 3 != 0, "text"] = BOILERPLATE
    return pdf.reset_index(drop=True)


def dedup_turns(spark: SparkSession, seed: int, n_convs: int,
                partitions: int, n_hot: int, hot_turns: int, n_plants: int):
    """Stock transcripts, a fixed hot tail (``n_hot`` conversations of
    ``hot_turns`` turns) and planted duplicate conversations."""
    base = generate_transcripts(spark, n_convs, seed=seed, hot_frac=0.0,
                                num_partitions=partitions)
    pdf, conv_pairs, turn_pairs = planted_conversations(seed, n_plants)
    extra = pd.concat([hot_conversations(seed, n_hot, hot_turns), pdf],
                      ignore_index=True)
    return (base.unionByName(spark.createDataFrame(extra, TRANSCRIPTS_SCHEMA)),
            conv_pairs, turn_pairs)


# -- star schema (TPC-H-like shapes; sf=1 is 6M lineitem rows) -----------

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                      "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                        "5-LOW"])
_EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])


def _ts(rng, n, start="1992-01-01", days=3000):
    base = np.datetime64(start, "us")
    return base + rng.randint(0, days * 86400, size=n).astype(
        "timedelta64[s]").astype("timedelta64[us]")


def write_star_schema(seed: int, out_dir: str, sf: float = 0.1) -> dict:
    """customer, orders, lineitem and events parquet files; returns
    ``{name: path}``."""
    rng = np.random.RandomState((seed * 7919 + 17) % (2**31 - 1))
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    ck = np.arange(n_cust, dtype=np.int64)
    tables = {
        "customer": pa.table({
            "c_custkey": ck,
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": rng.randint(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": _SEGMENTS[rng.randint(0, 5, n_cust)],
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.randint(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["O", "F", "P"])[
                rng.randint(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(900, 500_000, n_ord), 2),
            "o_orderdate": _ts(rng, n_ord),
            "o_orderpriority": _PRIORITIES[rng.randint(0, 5, n_ord)],
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.randint(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.randint(0, 20_000, n_line).astype(np.int64),
            "l_suppkey": rng.randint(0, 1_000, n_line).astype(np.int64),
            "l_linenumber": rng.randint(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.randint(1, 51, n_line).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n_line), 2),
            "l_discount": rng.randint(0, 11, n_line) / 100.0,
            "l_tax": rng.randint(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[
                rng.randint(0, 3, n_line)],
            "l_linestatus": np.array(["O", "F"])[rng.randint(0, 2, n_line)],
            "l_shipdate": _ts(rng, n_line),
        }),
        "events": pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(rng, n_ev, "2024-01-01", 90),
            "user_id": rng.randint(0, 5_000, n_ev).astype(np.int64),
            "event_type": _EVENT_TYPES[rng.randint(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, n_ev)],
        }),
    }
    paths = {}
    for name, table in tables.items():
        paths[name] = f"{out_dir}/{name}.parquet"
        pq.write_table(table, paths[name])
    return paths


# -- planted PII table -------------------------------------------------------

# column -> the one scanner class every value of it matches
PLANTED_CLASSES = {
    "contact_email": "email",
    "client_ip": "ip_v4",
    "card": "credit_card_number",
    "homepage": "url",
    "signup_date": "iso_date",
    "device_mac": "mac_address",
}


def write_planted_pii(seed: int, path: str, n_rows: int,
                      n_delete: int) -> dict:
    """A table whose every column holds one PII class with known, distinct
    values.  Returns the planted values and the emails that the what-if
    delete targets."""
    rng = np.random.RandomState((seed * 104729 + 3) % (2**31 - 1))
    idx = np.arange(n_rows)
    perm = rng.permutation(n_rows)
    cols = {
        "row_id": idx.astype(np.int64),
        "contact_email": [f"user{p}.{seed}@mail{p % 97}.example.com"
                          for p in perm],
        "client_ip": [f"10.{(p >> 16) & 255}.{(p >> 8) & 255}.{p & 255}"
                      for p in perm],
        "card": [f"4{p % 1000:03d}-{(p * 7) % 10000:04d}-"
                 f"{(p * 13 + seed) % 10000:04d}-{p % 10000:04d}"
                 for p in perm],
        "homepage": [f"https://site{p}.example.org/u/{seed}" for p in perm],
        "signup_date": [str(np.datetime64("2015-01-01") + int(p % 3000))
                        for p in perm],
        "device_mac": ["0a:%02x:%02x:%02x:%02x:%02x" % (
            (p >> 24) & 255, (p >> 16) & 255, (p >> 8) & 255, p & 255,
            seed & 255) for p in perm],
    }
    pq.write_table(pa.table(cols), path)
    targets = sorted(rng.choice(cols["contact_email"], n_delete,
                                replace=False).tolist())
    return {"values": {c: set(cols[c]) for c in PLANTED_CLASSES},
            "delete_emails": targets}
