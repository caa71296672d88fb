"""Seeded input generators for the benchmark workloads.

Two families of inputs, both written only under the directory the caller
passes in:

* ``cms_batch`` — a CMS-shaped inpatient-claims CSV plus the beneficiary CSV
  (the reference ETL's input contract, FIXTURES.md A1/A2), with the edge cases
  the pipeline must survive: claims whose patient has no beneficiary row,
  trailing empty diagnosis cells, NULL and out-of-domain sex codes, zero and
  negative payments.
* ``star_schema`` — the ten registry tables (TPC-H-ish star schema plus
  ``events``, ``documents`` and ``embeddings``) with the same schemas, value
  domains and distributions as the sf* fixtures, at any scale factor.  The
  seed picks the key shift of the replica, the per-row values, the row
  order and the row groups, so every seed is a different key-shifted replica
  of the same shape.

The same seed always produces byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pcsv
import pyarrow.parquet as pq

# ---------------------------------------------------------------- CMS batch

CLAIMS_HEADER = [
    "DESYNPUF_ID",
    "CLM_ID",
    "CLM_FROM_DT",
    "CLM_THRU_DT",
    "PRVDR_NUM",
    "CLM_PMT_AMT",
    *[f"ICD9_DGNS_CD_{i}" for i in range(1, 10)],
    "NCH_BENE_BLOOD_DDCTBL_LBLTY_AMT",  # unprojected column, as in the SynPUF files
]
BENE_HEADER = [
    "DESYNPUF_ID",
    "BENE_BIRTH_DT",
    "BENE_DEATH_DT",
    "BENE_SEX_IDENT_CD",
    "BENE_HI_CVRAGE_TOT_MONS",
    "BENE_SMI_CVRAGE_TOT_MONS",
    "SP_STATE_CODE",  # unprojected
]
ICD9_CODES = np.array(
    ["4019", "25000", "V5869", "2724", "42731", "4280", "41401", "5990", "486", "V4581",
     "2449", "53081", "311", "496", "2859", "78650", "V5861", "27651", "5849", "71590"]
)


def _yyyymmdd(days: np.ndarray, base: str) -> pa.Array:
    d = np.datetime64(base, "D") + days.astype("timedelta64[D]")
    return pc.strftime(pa.array(d), format="%Y%m%d")


def _str(values: np.ndarray) -> pa.Array:
    return pc.cast(pa.array(values), pa.string())


def _cat(*parts) -> pa.Array:
    return pc.binary_join_element_wise(*parts, "")


def _zfill(values: np.ndarray, width: int) -> pa.Array:
    return pc.utf8_lpad(_str(values), width=width, padding="0")


def _signed_cents(cents: np.ndarray) -> pa.Array:
    """Signed cents as ``-1234.05`` (two decimals, as the CMS files print them)."""
    mag = np.abs(cents)
    sign = pa.array(np.where(cents < 0, "-", ""))
    return _cat(sign, _str(mag // 100), ".", _zfill(mag % 100, 2))


def cms_batch(out_dir: str, seed: int, n_claims: int) -> dict:
    """Write ``claims.csv`` and ``beneficiary.csv``; return paths, row counts
    and bytes.  About 5% of claims reference a patient with no beneficiary
    row; the beneficiary file is unique on DESYNPUF_ID."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_pat = max(10, n_claims // 6)
    pat_ids = _cat("P", _zfill(rng.permutation(10 * n_pat)[:n_pat], 15))
    has_bene = rng.random(n_pat) >= 0.05
    # many claims per patient (N:1 fan-out), skewed: a few patients carry many claims
    owner = np.minimum((rng.pareto(1.5, n_claims) * n_pat / 8).astype(np.int64), n_pat - 1)
    owner = rng.permutation(n_pat)[owner]
    from_day = rng.integers(0, 3 * 365, n_claims)
    thru_day = from_day + rng.integers(0, 30, n_claims)
    cents = rng.integers(0, 5_000_000, n_claims)
    special = rng.random(n_claims)
    cents[special < 0.02] = 0  # zero payments
    cents[(special >= 0.02) & (special < 0.04)] *= -1  # reversals
    n_dx = rng.integers(1, 10, n_claims)  # 1..9 filled slots, trailing slots empty
    dx = rng.integers(0, len(ICD9_CODES), (n_claims, 9))
    dx[np.arange(9)[None, :] >= n_dx[:, None]] = len(ICD9_CODES)  # the empty cell
    codes = pa.array([*ICD9_CODES, ""])
    cols = [
        pc.take(pat_ids, owner),
        _cat("C", _str(rng.permutation(n_claims) + seed * 10_000_000)),
        _yyyymmdd(from_day, "2008-01-01"),
        _yyyymmdd(thru_day, "2008-01-01"),
        _zfill(rng.integers(0, 999_999, n_claims), 6),
        _signed_cents(cents),
        *[pc.take(codes, dx[:, i]) for i in range(9)],
        _signed_cents(rng.integers(0, 1000, n_claims) * 10),
    ]
    claims_path = os.path.join(out_dir, "claims.csv")
    _write_csv(claims_path, CLAIMS_HEADER, cols)

    bene_idx = np.flatnonzero(has_bene)
    nb = len(bene_idx)
    sex = rng.choice(np.array(["1", "2", "", "0", "3"]), nb, p=[0.47, 0.47, 0.03, 0.015, 0.015])
    died = rng.random(nb) >= 0.9
    death = pc.if_else(pa.array(died), _yyyymmdd(rng.integers(0, 3 * 365, nb), "2008-01-01"), "")
    bcols = [
        pc.take(pat_ids, bene_idx),
        _yyyymmdd(rng.integers(0, 70 * 365, nb), "1915-01-01"),
        death,
        _str(sex),
        _str(rng.integers(0, 13, nb)),
        _str(rng.integers(0, 13, nb)),
        _str(rng.integers(1, 55, nb)),
    ]
    bene_path = os.path.join(out_dir, "beneficiary.csv")
    _write_csv(bene_path, BENE_HEADER, bcols)
    return {
        "claims_csv": claims_path,
        "beneficiary_csv": bene_path,
        "rows": n_claims + nb,
        "claims_rows": n_claims,
        "beneficiary_rows": nb,
        "bytes": os.path.getsize(claims_path) + os.path.getsize(bene_path),
    }


def _write_csv(path: str, header: list[str], cols: list[pa.Array]) -> None:
    """Unquoted CSV, as the CMS files are: no generated value holds a comma or
    a quote, and an empty string is an empty cell."""
    with open(path, "wb") as fh:
        fh.write((",".join(header) + "\n").encode())
        pcsv.write_csv(
            pa.Table.from_arrays(cols, names=header),
            fh,
            pcsv.WriteOptions(include_header=False, quoting_style="none"),
        )


# ------------------------------------------------------------- star schema

REGISTRY_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "view", "purchase", "error"]
LANGS = ["en", "fr", "zh", "de", "es"]
VOCAB = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _tables(rng, sf: float, shift: int) -> dict[str, dict[str, np.ndarray]]:
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_users = int(50_000 * sf), int(20_000 * sf), int(15_000 * sf)
    t: dict[str, dict[str, np.ndarray]] = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": np.array(REGIONS)}
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": np.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = {
        "c_custkey": ck + shift,
        "c_name": np.char.add("Customer#", np.char.zfill(ck.astype(str), 9)),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = {
        "s_suppkey": sk + shift,
        "s_name": np.char.add("Supplier#", np.char.zfill(sk.astype(str), 9)),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = {
        "p_partkey": pk + shift,
        "p_name": np.char.add(
            np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(PART_NOUN)[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64) + shift,
        "o_custkey": rng.integers(0, n_cust, n_ord) + shift,
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li) + shift,
        "l_partkey": rng.integers(0, n_part, n_li) + shift,
        "l_suppkey": rng.integers(0, n_supp, n_li) + shift,
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    }
    # events: one month of monotone, whole-microsecond timestamps
    gaps = rng.exponential(30 * 86_400e6 / n_ev, n_ev).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64) + shift,
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_ev) + shift,
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }
    # documents: bag-of-words text; ~5% near-duplicates (an earlier text plus
    # " dup") and a few exact duplicates, the near-dup fixtures' shape
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n_doc)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    texts = np.array([" ".join(w) for w in np.split(words, np.cumsum(lens)[:-1])], dtype=object)
    kind = rng.random(n_doc)
    src = rng.integers(0, np.arange(n_doc).clip(min=1))
    near = (kind < 0.05) & (np.arange(n_doc) > 0)
    exact = (kind > 0.998) & (np.arange(n_doc) > 0)
    texts[near] = texts[src[near]] + " dup"
    texts[exact] = texts[src[exact]]
    t["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64) + shift,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=[0.41, 0.15, 0.15, 0.14, 0.15])],
        "source": np.char.add("src", (np.arange(n_doc) % 20).astype(str)),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    }
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64) + shift,
        "embedding": emb,
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    }
    return t


def _arrow(cols: dict[str, np.ndarray]) -> pa.Table:
    arrays = {}
    for name, v in cols.items():
        if v.ndim == 2:  # fixed-width vectors -> list<float>
            offsets = np.arange(0, v.size + 1, v.shape[1], dtype=np.int32)
            arrays[name] = pa.ListArray.from_arrays(pa.array(offsets), pa.array(v.ravel()))
        else:
            arrays[name] = pa.array(v.tolist() if v.dtype.kind in "UO" else v)
    return pa.table(arrays)


def star_schema(out_dir: str, seed: int, sf: float) -> dict:
    """Write the ten registry tables as ``<out_dir>/<table>.parquet``.

    One file per table, as the sf* fixtures are (the live streaming queries
    stage ``events.parquet`` as a single file).  Entity keys (customer,
    supplier, part, order, event, user, document and vector ids) are shifted
    by a seed-chosen multiple of 10^6; the fixed domains (region, nation) are
    not.  Rows are shuffled and split into a seed-chosen number of row groups.
    Returns row and byte counts."""
    rng = np.random.default_rng([seed, 2])
    shift = int(rng.integers(1, 1000)) * 1_000_000
    os.makedirs(out_dir, exist_ok=True)
    rows = nbytes = 0
    for name, cols in _tables(rng, sf, shift).items():
        table = _arrow(cols)
        table = table.take(rng.permutation(table.num_rows))
        groups = int(rng.integers(1, 5))
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(1, -(-table.num_rows // groups)))
        rows += table.num_rows
        nbytes += os.path.getsize(path)
    return {"sf_dir": out_dir, "rows": rows, "bytes": nbytes, "key_shift": shift}
