"""Seeded clickstream logs + category dimension, and an engine-free oracle.

The generator writes the reference log schema (``maid``, ``info.siteseq``,
``userid``, ``custid``, ``timestamp``, ``logtype``, JSON ``custom``) and the
category dimension the pipeline joins against. Each data set covers:

- all four site families, each with its own JSON key table, plus rows of
  an unknown site and an unknown logtype that the pipeline filters out;
- multi-element product arrays (1-3 codes per row), empty arrays and
  payloads with the product keys missing;
- null ``userid`` (the ``maid`` fallback), and user ids longer than the
  100-character output column;
- secondless timestamps (``...T01:43:09Z``) next to the millisecond form,
  spread over 30 days so the write lands in about 30 date partitions;
- exact duplicate rows, removed again by the pipeline's dedup;
- product codes that are missing from the dimension.

The mix of these cases is an assumption, not measured traffic: the
reference repository holds only a 4-row sample of its logs. The rates
below are chosen so that every path of the pipeline gets a visible share
of the rows; ``README.md`` gives the reason for each.

:func:`expected_rows` re-derives the pipeline's output in plain Python
from the generated rows, so the output check never runs the engine.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: site ids of the reference config (``configs/etl_config.json``)
SITES = {"default": "154992", "type1": "-48", "type2": "155138", "type3": "4550"}
UNKNOWN_SITE = "777"
LOGTYPES = ("login", "purchase", "cart", "view")

#: JSON keys holding (code, name) per family and logtype; "*" = other logtypes
KEYS = {
    "default": {"view": ("rb:itemId", "rb:itemName"), "*": ("productCode", "productName")},
    "type1": {
        "cart": ("goodsCode", "name"),
        "view": ("tas:productCode", "og:title"),
        "*": ("goodsCode", "goodsName"),
    },
    "type2": {"view": ("og:url", "og:title"), "*": ("productCode", "productName")},
    "type3": {"view": ("tas:productCode", "Title"), "*": ("productCode", "productName")},
}

# Input mix. Assumed, not measured: each rate gives one path of the
# pipeline a visible share of the rows. The rates decide join fan-out and
# selectivity, the dedup shuffle size and the output row count, so a change
# to any of them is a change of the benchmark, not of the engine.
UNKNOWN_SITE_RATE = 0.02  # a site outside the config: the site filter
UNKNOWN_LOGTYPE_RATE = 0.02  # a "search" logtype: the logtype filter
NULL_USERID_RATE = 0.10  # the maid fallback
LONG_USERID_RATE = 0.01  # user ids over the 100-character output column
SECONDLESS_RATE = 0.20  # "...T01:43:09Z" stamps: the timestamp repair
NO_KEYS_RATE = 0.05  # payloads without the product keys: null extraction
EMPTY_ARRAYS_RATE = 0.03  # empty code and name arrays: explode_outer keeps the row
MAX_CODES = 3  # codes per row, uniform in 1..MAX_CODES: the explode fan-out
DIM_CODES = 400  # codes per site in the dimension
DRAWN_CODES = 2 * DIM_CODES  # rows draw from this many, so about half miss the dimension
DUPLICATE_RATE = 0.05  # exact copies of an earlier row: the dedup
EVENTS_PER_ID = 4  # mean rows per user id and per maid
DAYS = 30  # timestamps spread over 30 days: about 31 KST date partitions

DIM_COLS = (
    "SHOPPING_ID", "ITEM_CODE", "INTG_ID", "ITEM_NAME",
    "CAT1", "CAT2", "CAT3", "CAT4", "INTG_CAT1", "INTG_CAT2", "INTG_CAT3", "INTG_CAT4",
)
OUT_COLS = (
    "USER_ID", "SHOPPING_ID", "TRANSACTION_DATE", "TRANSACTION_TIME", "LOG_TYPE",
    "INTG_ID", "ITEM_CODE", "ITEM_NAME",
    "CAT1", "CAT2", "CAT3", "CAT4", "INTG_CAT1", "INTG_CAT2", "INTG_CAT3", "INTG_CAT4",
)

LOG_SCHEMA = pa.schema(
    [
        ("maid", pa.string()),
        ("info", pa.struct([("siteseq", pa.string())])),
        ("userid", pa.string()),
        ("custid", pa.string()),
        ("timestamp", pa.string()),
        ("logtype", pa.string()),
        ("custom", pa.string()),
    ]
)


def _dim_row(site: str, code: str) -> tuple[str, ...]:
    n = int(code[1:])
    return (
        site, code, f"I{site}-{code}", f"item {code}",
        f"c1-{n % 5}", f"c2-{n % 11}", f"c3-{n % 23}", f"c4-{n % 47}",
        f"ic1-{n % 3}", f"ic2-{n % 7}", f"ic3-{n % 13}", f"ic4-{n % 29}",
    )


def dimension() -> list[tuple[str, ...]]:
    """The category dimension: DIM_CODES codes per known site."""
    return [_dim_row(site, f"P{i}") for site in SITES.values() for i in range(DIM_CODES)]


def generate(n_rows: int, seed: int) -> list[tuple]:
    """``n_rows`` log rows (duplicates included), as tuples in LOG_SCHEMA order."""
    rng = np.random.default_rng(seed)
    families = list(SITES)
    epoch = dt.datetime(2019, 6, 1)
    fam = rng.integers(4, size=n_rows)
    unknown_site = rng.random(n_rows) < UNKNOWN_SITE_RATE
    logtype = rng.integers(4, size=n_rows)
    unknown_logtype = rng.random(n_rows) < UNKNOWN_LOGTYPE_RATE
    maid = rng.integers(n_rows // EVENTS_PER_ID + 1, size=n_rows)
    user_draw = rng.random(n_rows)
    user = rng.integers(n_rows // EVENTS_PER_ID + 1, size=n_rows)
    seconds = rng.integers(DAYS * 86400, size=n_rows)
    secondless = rng.random(n_rows) < SECONDLESS_RATE
    millis = rng.integers(1000, size=n_rows)
    shape = rng.random(n_rows)
    n_codes = rng.integers(1, MAX_CODES + 1, size=n_rows)
    codes = rng.integers(DRAWN_CODES, size=(n_rows, MAX_CODES))
    url_dir = rng.integers(9, size=n_rows)
    duplicate = rng.random(n_rows) < DUPLICATE_RATE
    source = rng.integers(np.arange(n_rows) + 1) - 1  # an earlier row for duplicates
    rows: list[tuple] = []
    for i in range(n_rows):
        if i and duplicate[i]:  # exact duplicate of an earlier row
            rows.append(rows[source[i] % i])
            continue
        f = families[fam[i]]
        lt = "search" if unknown_logtype[i] else LOGTYPES[logtype[i]]
        u = user_draw[i]
        if u < NULL_USERID_RATE:
            userid = None
        elif u < NULL_USERID_RATE + LONG_USERID_RATE:
            userid = "u" * 120 + str(i)
        else:
            userid = f"u{user[i]}"
        ts = epoch + dt.timedelta(seconds=int(seconds[i]))
        if secondless[i]:
            stamp = ts.strftime("%Y-%m-%dT%H:%M:%SZ")
        else:
            stamp = ts.strftime("%Y-%m-%dT%H:%M:%S") + f".{millis[i]:03d}Z"
        code_key, name_key = KEYS[f].get(lt, KEYS[f]["*"])
        url_codes = f == "type2" and lt == "view"
        if shape[i] < NO_KEYS_RATE:
            payload = {}
        elif shape[i] < NO_KEYS_RATE + EMPTY_ARRAYS_RATE:
            payload = {code_key: [], name_key: []}
        else:
            picked = [f"P{c}" for c in codes[i, : 1 if url_codes else n_codes[i]]]
            shown = [f"http://shop.example/c{url_dir[i]}/{c}" for c in picked] if url_codes else picked
            payload = {code_key: shown, name_key: [f"name {c}" for c in picked]}
        site = UNKNOWN_SITE if unknown_site[i] else SITES[f]
        rows.append((f"m{maid[i]}", {"siteseq": site}, userid, f"c{i}", stamp, lt, json.dumps(payload)))
    return rows


def write(rows: list[tuple], logs_dir: str, dim_path: str, n_files: int = 8) -> None:
    """Write the logs as ``n_files`` parquet files and the dimension as one."""
    import os

    os.makedirs(logs_dir, exist_ok=True)
    table = pa.Table.from_arrays([pa.array(col, f.type) for col, f in zip(zip(*rows), LOG_SCHEMA)], schema=LOG_SCHEMA)
    step = -(-len(rows) // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step), os.path.join(logs_dir, f"part-{k:02d}.parquet"))
    dim = pa.Table.from_pylist(
        [dict(zip(DIM_COLS, r)) for r in dimension()],
        pa.schema([(c, pa.string()) for c in DIM_COLS]),
    )
    pq.write_table(dim, dim_path)


# --- engine-free oracle ------------------------------------------------------

_STRAY_COMMAS = re.compile(r"[^\"](,+)|(,+)[^\"]")
_ARRAY_TEXT = re.compile(r"(^\[)|(\]$)|(\")")


def _json_text(value) -> str | None:
    """What Spark's ``json_tuple`` returns for one extracted value."""
    if value is None:
        return None
    if isinstance(value, str):
        return value
    return json.dumps(value, separators=(",", ":"))


def _to_array(text: str | None) -> list[str] | None:
    if text is None:
        return None
    return _ARRAY_TEXT.sub("", _STRAY_COMMAS.sub("", text)).split(",")


def _kst_parts(stamp: str) -> tuple[str, str]:
    date, _, time = (dt.datetime.fromisoformat(stamp[:19]) + dt.timedelta(hours=9)).isoformat().partition("T")
    return date, time


def expected_rows(rows: list[tuple]) -> set[tuple]:
    """The distinct output rows of ``clickstream_pipeline`` on ``rows``."""
    site_family = {v: k for k, v in SITES.items()}
    dim = {(r[0], r[1]): r for r in dimension()}
    out: set[tuple] = set()
    for maid, info, userid, _custid, stamp, logtype, custom in rows:
        fam = site_family.get(info["siteseq"])
        if fam is None or logtype not in LOGTYPES:
            continue
        code_key, name_key = KEYS[fam].get(logtype, KEYS[fam]["*"])
        payload = json.loads(custom)
        code_text = _json_text(payload.get(code_key))
        if fam == "type2" and logtype == "view" and code_text is not None:
            code_text = code_text.split("/")[-1]
        codes, names = _to_array(code_text), _to_array(_json_text(payload.get(name_key)))
        if codes is None or names is None:  # arrays_zip of a null is null
            pairs = [None]
        else:  # arrays_zip pads the shorter array with nulls
            pairs = [codes[i] if i < len(codes) else None for i in range(max(len(codes), len(names)))]
        user = (userid if userid is not None else maid)[:100]
        date, time = _kst_parts(stamp)
        site = info["siteseq"]
        for code in pairs:
            hit = dim.get((site, code))
            if hit is not None:
                out.add((user, site, date, time, logtype, hit[2], code, *hit[3:]))
            if logtype == "login":
                out.add((user, site, date, time, logtype) + (None,) * 11)
    return out


def fingerprint(rows) -> str:
    """Order-insensitive digest of a row multiset (sum of row hashes)."""
    total = 0
    for r in rows:
        line = "\x1f".join("\x00" if v is None else str(v) for v in r)
        total = (total + int.from_bytes(hashlib.blake2b(line.encode(), digest_size=8).digest(), "little")) % (1 << 64)
    return f"{total:016x}"


def read_output(path: str) -> list[tuple]:
    """Rows of a ``partitionBy("TRANSACTION_DATE")`` parquet output, in OUT_COLS order."""
    import pyarrow.dataset as ds

    part = ds.partitioning(pa.schema([("TRANSACTION_DATE", pa.string())]), flavor="hive")
    table = ds.dataset(path, format="parquet", partitioning=part).to_table(columns=list(OUT_COLS))
    return list(zip(*(table.column(c).to_pylist() for c in OUT_COLS)))
