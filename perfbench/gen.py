"""Seeded input generators for the benchmark.

Two kinds of input are made here, both from one integer seed:

* ``write_tables`` writes the ten fixture tables the declared queries read
  (region ... embeddings) as single-row-group parquet, with the same column
  names, types and value distributions as the project's test tables, scaled
  by ``sf`` the same way (lineitem = 6M x sf rows).
* ``sis_inputs`` makes the teacher-candidate sync job's inputs: the source
  rows of the SIS database, the descriptor vocabularies the REST API serves
  and the documents already on the API, including ghost documents whose
  keys are not in the source and must be deleted.

The program under test only ever sees what these functions produce.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EPOCH = dt.datetime(1970, 1, 1)


def _micros(d: dt.datetime) -> int:
    return (d - EPOCH) // dt.timedelta(microseconds=1)


def _days_between(rng, n, start: dt.datetime, end: dt.datetime) -> np.ndarray:
    """Midnight timestamps (micros) uniform over [start, end]."""
    days = rng.integers(0, (end - start).days + 1, n)
    return _micros(start) + days * 86_400_000_000


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path: str, cols: dict[str, pa.Array]) -> None:
    table = pa.table(cols)
    # one row group, as in the project's fixtures: scans of these files
    # cannot split, which is what the engine's spread_scan gate looks for
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _docs_text(rng, n: int) -> list[str]:
    texts = [
        " ".join(rng.choice(WORDS, int(k)))
        for k in rng.integers(10, 101, n)
    ]
    # 5% are near-duplicates (another document plus one token) and a few
    # are exact copies, so the dedup and similarity queries find work
    for i in rng.choice(np.arange(1, n), max(1, n // 20), replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, n), max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return texts


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten fixture tables for scale factor ``sf`` into ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    p = os.path.join
    i32, i64 = pa.int32(), pa.int64()

    _write(p(out_dir, "region.parquet"), {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS),
    })
    _write(p(out_dir, "nation.parquet"), {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    _write(p(out_dir, "customer.parquet"), {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    _write(p(out_dir, "supplier.parquet"), {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
    })
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    _write(p(out_dir, "part.parquet"), {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(rng.choice(names, n_part)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PTYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(
            np.round(900 + (np.arange(n_part) % 1000) / 10, 1)
        ),
    })
    _write(p(out_dir, "orders.parquet"), {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000, 500_000)),
        "o_orderdate": _ts(_days_between(
            rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1))),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    _write(p(out_dir, "lineitem.parquet"), {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, n_line, 900, 105_000)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts(_days_between(
            rng, n_line, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4))),
    })
    gaps = rng.exponential(30 * 86_400 / n_ev, n_ev)
    ts = _micros(dt.datetime(2024, 1, 1)) + (np.cumsum(gaps) * 1e6).astype("int64")
    _write(p(out_dir, "events.parquet"), {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    texts = _docs_text(rng, n_docs)
    _write(p(out_dir, "documents.parquet"), {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    vecs = rng.standard_normal((n_emb, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(p(out_dir, "embeddings.parquet"), {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })


# -- teacher-candidate sync inputs ------------------------------------------

SEX_CODES = ["F", "M", "N", "X"]  # X is not in the vocabulary: bare fallback
GRADES = ["Postsecondary", "Ninth grade", "Tenth grade", "Eleventh grade"]
DEGREES = ["BIS", "BA", "BS", "MAT", "MED"]
ATYPES = ["MA", "PR", "OT"]
STATES = [f"S{i:02d}" for i in range(60)]  # S58, S59: not in the vocabulary
CITIES = ["Austin", "Boston", "Denver", "Fresno", "Tampa", "Reno", "Salem"]


def _vocab(name: str, codes: list[str]) -> list[dict]:
    ns = f"uri://ed-fi.org/{name[0].upper()}{name[1:]}Descriptor"
    return [{"codeValue": c, "namespace": ns} for c in codes]


def sis_inputs(n_candidates: int, seed: int) -> dict:
    """Source rows, vocabularies and the remote snapshot for one sync.

    * about 10% of candidates have 2-3 detail rows; the highest SRC_ORDER
      must win;
    * each candidate has 0-3 addresses, half of them seen again with an
      overlapping period and a fifth with an exact duplicate period;
    * the remote API already holds about half the candidates, plus ghost
      documents (5% of the candidate count) absent from the source.
    """
    rng = np.random.default_rng(seed)
    subjects = [f"SUBJ{i:03d}" for i in range(250)]  # > 2 pages at 100/page
    vocabs = {
        "sex": _vocab("sex", SEX_CODES[:3]),
        "academicSubject": _vocab("academicSubject", subjects[:240]),
        "gradeLevel": _vocab("gradeLevel", GRADES),
        "tppDegreeType": _vocab("tppDegreeType", DEGREES[:4]),
        "addressType": _vocab("addressType", ["MA", "PR"]),
        "stateAbbreviation": _vocab("stateAbbreviation", STATES[:58]),
    }
    cand_rows, addr_rows = [], []
    order = 0
    keys = [f"TC{seed % 1000:03d}{i:07d}" for i in range(n_candidates)]
    for key in keys:
        for _ in range(1 if rng.random() > 0.1 else int(rng.integers(2, 4))):
            order += 1
            born = None
            if rng.random() > 0.03:
                born = str(dt.date(1970, 1, 1) + dt.timedelta(
                    days=int(rng.integers(0, 12_000))))
            cand_rows.append((
                key,
                f"First{int(rng.integers(0, 5000))}",
                f"Last{int(rng.integers(0, 20000))}",
                born,
                str(rng.choice(SEX_CODES)),
                str(rng.choice(subjects)),
                str(rng.choice(GRADES)),
                str(rng.choice(DEGREES)),
                order,
            ))
        for _ in range(int(rng.integers(0, 4))):
            ident = (
                str(rng.choice(ATYPES)),
                f"{int(rng.integers(1, 9999))} Main St",
                str(rng.choice(CITIES)),
                str(rng.choice(STATES)),
                f"{int(rng.integers(10000, 99999))}",
            )
            start = dt.date(2000, 1, 1) + dt.timedelta(days=int(rng.integers(0, 7000)))
            periods = [(start, start + dt.timedelta(days=int(rng.integers(30, 900))))]
            if rng.random() < 0.5:  # the same address again, overlapping
                s2 = periods[0][0] + dt.timedelta(days=int(rng.integers(1, 60)))
                periods.append((s2, s2 + dt.timedelta(days=int(rng.integers(30, 900)))))
            if rng.random() < 0.2:  # an exact duplicate period
                periods.append(periods[0])
            for b, e in periods:
                addr_rows.append((key, *ident, str(b), str(e)))
    remote = [k for k in keys if rng.random() < 0.5]
    ghosts = [f"GHOST{seed % 1000:03d}{i:06d}" for i in range(max(1, n_candidates // 20))]
    return {
        "candidates": cand_rows,
        "addresses": addr_rows,
        "vocabularies": vocabs,
        "remote_keys": remote,
        "ghost_keys": ghosts,
    }


CANDIDATE_COLUMNS = (
    "CAND_ID VARCHAR(32), FIRST_NAME VARCHAR(32), LAST_NAME VARCHAR(32),"
    " BIRTH_DATE VARCHAR(10), SEX_CODE VARCHAR(8), SUBJECT_CODE VARCHAR(16),"
    " GRADE_CODE VARCHAR(32), DEGREE_CODE VARCHAR(8), SRC_ORDER INT"
)
ADDRESS_COLUMNS = (
    "CAND_ID VARCHAR(32), ATYP_CODE VARCHAR(8), STREET VARCHAR(32),"
    " CITY VARCHAR(32), STAT_CODE VARCHAR(8), ZIP VARCHAR(8),"
    " FROM_DATE VARCHAR(10), TO_DATE VARCHAR(10)"
)
SQL = {
    "teacherCandidate": (
        "SELECT CAND_ID, FIRST_NAME, LAST_NAME, BIRTH_DATE, SEX_CODE,\n"
        "       SUBJECT_CODE, GRADE_CODE, DEGREE_CODE, SRC_ORDER\n"
        "FROM cand_src\n"
    ),
    "teacherCandidateAddresses": (
        "SELECT CAND_ID, ATYP_CODE, STREET, CITY, STAT_CODE, ZIP,\n"
        "       FROM_DATE, TO_DATE\n"
        "FROM addr_src\n"
    ),
}
COLUMN_MAPS = {
    "teacherCandidate": {
        "teacherCandidateIdentifier": "CAND_ID",
        "firstName": "FIRST_NAME",
        "lastSurname": "LAST_NAME",
        "birthDate": "BIRTH_DATE",
        "sexDescriptor": "SEX_CODE",
        "academicSubjectDescriptor": "SUBJECT_CODE",
        "gradeLevelDescriptor": "GRADE_CODE",
        "tppDegreeTypeDescriptor": "DEGREE_CODE",
        "sourceOrder": "SRC_ORDER",
    },
    "teacherCandidateAddresses": {
        "teacherCandidateIdentifier": "CAND_ID",
        "addressTypeDescriptor": "ATYP_CODE",
        "streetNumberName": "STREET",
        "city": "CITY",
        "stateAbbreviationDescriptor": "STAT_CODE",
        "postalCode": "ZIP",
        "beginDate": "FROM_DATE",
        "endDate": "TO_DATE",
    },
}


def write_spec(spec_dir: str) -> None:
    """The job's SQL files and column maps, in the reference's layout."""
    for sub in ("sql", "columnmap"):
        os.makedirs(os.path.join(spec_dir, sub), exist_ok=True)
    for name, sql in SQL.items():
        with open(os.path.join(spec_dir, "sql", name + ".sql"), "w") as f:
            f.write(sql)
    for name, cmap in COLUMN_MAPS.items():
        with open(os.path.join(spec_dir, "columnmap", name + ".map"), "w") as f:
            f.write("".join(f"{k}={v}\n" for k, v in cmap.items()))


def expected_documents(inputs: dict) -> dict[str, dict]:
    """What the API must hold for each source key after a correct sync,
    computed in plain Python: last-row-wins scalars, descriptor URIs (bare
    code when the vocabulary lacks it) and each address's merged periods."""
    uri = {
        name: {r["codeValue"]: r["namespace"] + "#" + r["codeValue"] for r in rows}
        for name, rows in inputs["vocabularies"].items()
    }
    latest: dict[str, tuple] = {}
    for row in inputs["candidates"]:
        if row[0] not in latest or row[8] > latest[row[0]][8]:
            latest[row[0]] = row
    out = {}
    for key, (_, first, last, born, sex, subj, grade, degree, order) in latest.items():
        out[key] = {
            "firstName": first,
            "lastSurname": last,
            "birthDate": born,
            "sourceOrder": order,
            "sexDescriptor": uri["sex"].get(sex, sex),
            "tppProgramDegrees": [{
                "academicSubjectDescriptor": uri["academicSubject"].get(subj, subj),
                "gradeLevelDescriptor": uri["gradeLevel"].get(grade, grade),
                "tppDegreeTypeDescriptor": uri["tppDegreeType"].get(degree, degree),
            }],
            "addresses": {},
        }
    for key, atyp, street, city, state, zipc, begin, end in inputs["addresses"]:
        ident = (
            uri["addressType"].get(atyp, atyp), street, city,
            uri["stateAbbreviation"].get(state, state), zipc,
        )
        out[key]["addresses"].setdefault(ident, set()).add((begin, end))
    return out
