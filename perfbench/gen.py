"""Seeded inputs for the benchmark.

``make_tables`` writes the ten driver-shaped tables (TPC-H-ish star schema,
``events``, ``documents``, ``embeddings``) as one single-row-group parquet
file each, with the column names, types and value domains of the
``testdata`` tables the registry queries were written against.

``make_fhir`` writes a raw zone of pretty-printed FHIR bundle files (one
bundle per file, the reference's Glue input) and returns the ground truth
of what it emitted: the distinct resource ids per table and every
observation's value, so the curated output and both reports can be
recomputed without Spark.

The same seed gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the benchmark's tables (the testdata sf0.01 shape).
SIZES = {
    "region": 5,
    "nation": 25,
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPE = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a the spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast row "
    "agg key query scan batch"
).split()
_LANGS = ["de", "en", "es", "fr", "zh"]
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(rng: np.random.Generator) -> dict[str, dict[str, object]]:
    n = SIZES
    t: dict[str, dict[str, object]] = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": _REGIONS,
    }
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    c = n["customer"]
    t["customer"] = {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, c)],
    }
    s = n["supplier"]
    t["supplier"] = {
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    }
    p = n["part"]
    t["part"] = {
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": [_PTYPE[i] for i in rng.integers(0, 6, p)],
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1),
    }
    o = n["orders"]
    t["orders"] = {
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _EPOCH_1995
        + rng.integers(0, 2400, o).astype("timedelta64[D]"),
        "o_orderpriority": [_PRIO[i] for i in rng.integers(0, 5, o)],
    }
    li = n["lineitem"]
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, o, li).astype(np.int64),
        "l_partkey": rng.integers(0, p, li).astype(np.int64),
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, li)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, li)],
        "l_shipdate": _EPOCH_1995
        + rng.integers(1, 2500, li).astype("timedelta64[D]"),
    }
    e = n["events"]
    gaps = rng.exponential(259.0, e) * 1e6
    t["events"] = {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": _EPOCH_2024 + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, e).astype(np.int64),
        "event_type": [_EVENTS[i] for i in rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, e)],
    }
    t["documents"] = _documents(rng, n["documents"])
    m = n["embeddings"]
    v = rng.standard_normal((m, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, m).astype(np.int32),
    }
    return t


def _documents(rng: np.random.Generator, n: int) -> dict[str, object]:
    """Random word soup with planted duplicates: ~5% exact copies of an
    earlier text under another source, ~5% copies with one word appended
    (the near-duplicates the dedup chain must cluster)."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 20 and r < 0.10:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, 5, n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }


def make_tables(out_dir: str, seed: int, only=None) -> None:
    """Write the tables made from ``seed`` (just those named in ``only``,
    if given; the others are still drawn, so each table is the same
    either way)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, cols in _tables(rng).items():
        if only is not None and name not in only:
            continue
        table = pa.table(cols)
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )


# --------------------------------------------------------------------------
# FHIR raw zone
# --------------------------------------------------------------------------

CVD = {
    "hdl": "Cholesterol in HDL [Mass/volume] in Serum or Plasma",
    "ldl": "Low Density Lipoprotein Cholesterol",
    "trig": "Triglycerides",
    "total_chol": "Cholesterol [Mass/volume] in Serum or Plasma",
}
T2D = {
    "a1c": "Hemoglobin A1c/Hemoglobin.total in Blood",
    "glucose_blood": "Glucose [Mass/volume] in Blood",
}
URINE = (
    "Glucose [Mass/volume] in Urine by Test strip",
    "Glucose [Presence] in Urine by Test strip",
)
# Values on both sides of every band edge of the two reports, plus the
# gap values the reference ladders leave unbanded (59.5, 129.5, ...).
_EDGES = {
    "hdl": [35, 39, 40, 41, 59, 59.5, 60, 61, 75],
    "ldl": [80, 99, 100, 129, 129.5, 130, 159, 160, 190],
    "trig": [100, 149, 150, 199, 199.5, 200, 260],
    "total_chol": [170, 199, 200, 239, 239.5, 240, 280],
    "a1c": [5.2, 5.6, 5.7, 6.4, 6.45, 6.5, 7.1],
    "glucose_blood": [65, 69, 70, 99, 100, 125, 125.5, 126, 140],
}
_URINE_TEXT = ["Positive", "pos", " Trace ", "Negative", "neg", "NEG ", "Trace"]
_OTHER = [
    ("Body height", [150.5, 162, 171.25, 188], "cm"),
    ("Body weight", [48, 61.5, 77.25, 102], "kg"),
    ("Hematocrit [Volume Fraction] of Blood by Automated count", [38, 41.5, 47], "%"),
]
_LOINC = {
    **{v: f"{1000 + i}-{i % 10}" for i, v in enumerate([*CVD.values(), *T2D.values()])},
    URINE[0]: "25428-4",
    URINE[1]: "5792-7",
}
_CONDITIONS = [
    ("44054006", "Diabetes mellitus type 2"),
    ("15777000", "Prediabetes"),
    ("38341003", "Hypertension"),
    ("55822004", "Hyperlipidemia"),
]


def _uuid(rng: np.random.Generator) -> str:
    return str(uuid.UUID(bytes=rng.bytes(16), version=4))


def _ts(rng: np.random.Generator) -> str:
    t = dt.datetime(2019, 1, 1) + dt.timedelta(
        seconds=int(rng.integers(0, 5 * 365 * 86400))
    )
    return t.strftime("%Y-%m-%dT%H:%M:%S+00:00")


def _cc(rng, system, code, display, text=None, single=None):
    """A CodeableConcept, as a single object or as a one-element array
    (both shapes occur in real exports)."""
    cc = {"coding": [{"system": system, "code": code, "display": display}]}
    if text is not None:
        cc["text"] = text
    if single is None:
        single = bool(rng.random() < 0.5)
    return cc if single else [cc]


def _observation(rng, oid, pid, eid, truth):
    r = rng.random()
    numeric = None
    value: dict[str, object]
    unit = "mg/dL"
    if r < 0.62:
        name = list(_EDGES)[int(rng.integers(0, len(_EDGES)))]
        display = {**CVD, **T2D}[name]
        numeric = float(_EDGES[name][int(rng.integers(0, len(_EDGES[name])))])
        unit = "%" if name == "a1c" else "mg/dL"
    elif r < 0.80:
        display, values, unit = _OTHER[int(rng.integers(0, len(_OTHER)))]
        numeric = float(values[int(rng.integers(0, len(values)))])
    else:
        display = URINE[int(rng.integers(0, 2))]
    if numeric is not None:
        # valueQuantity.value as JSON int, JSON double and numeric string.
        k = rng.random()
        if numeric.is_integer() and k < 0.4:
            raw: object = int(numeric)
        elif k < 0.8:
            raw = numeric
        else:
            raw = repr(numeric) if not numeric.is_integer() else str(int(numeric))
        value = {"valueQuantity": {"value": raw, "unit": unit}}
        text = None
    else:
        text = _URINE_TEXT[int(rng.integers(0, len(_URINE_TEXT)))]
        if rng.random() < 0.5:
            value = {"valueString": text}
        else:
            value = {
                "valueCodeableConcept": {
                    "coding": [{"system": "http://snomed.info/sct", "display": text}],
                    "text": text,
                }
            }
        unit = None
    when = _ts(rng)
    code = _LOINC.get(display, "8302-2")
    res = {
        "resourceType": "Observation",
        "id": oid,
        "status": "final",
        "category": [
            {"coding": [{"system": "http://terminology.hl7.org", "display": "laboratory"}]}
        ],
        "code": _cc(rng, "http://loinc.org", code, display, text=display),
        "subject": {"reference": f"urn:uuid:{pid}"},
        "encounter": {"reference": f"urn:uuid:{eid}"},
        "effectiveDateTime": when,
        **value,
    }
    truth["observation"][oid] = {
        "patient_id": pid,
        "code_display": display,
        "value_quantity": numeric,
        "value_string": text,
        "value_unit": unit,
        "effective_datetime": when,
    }
    return res


def _bundle(rng, patient, truth):
    pid = patient["id"]
    truth["patient"].add(pid)
    entries = [{"fullUrl": f"urn:uuid:{pid}", "resource": patient}]
    for _ in range(2):
        eid = _uuid(rng)
        truth["encounter"].add(eid)
        start = _ts(rng)
        entries.append(
            {
                "resource": {
                    "resourceType": "Encounter",
                    "id": eid,
                    "status": "finished",
                    "class": {"code": ["AMB", "EMER", "IMP"][int(rng.integers(0, 3))]},
                    "type": _cc(rng, "http://snomed.info/sct", "185349003", "Check up",
                                text="Encounter for check up"),
                    "subject": {"reference": f"urn:uuid:{pid}"},
                    "period": {"start": start, "end": start},
                    "location": [{"location": {"display": "CLINIC A"}}],
                    "serviceProvider": {"display": "GENERAL HOSPITAL"},
                    "participant": [
                        {
                            "individual": {"display": "Dr. Smith"},
                            "type": [{"text": "primary performer"}],
                        }
                    ],
                }
            }
        )
        cid = _uuid(rng)
        truth["condition"].add(cid)
        code, display = _CONDITIONS[int(rng.integers(0, len(_CONDITIONS)))]
        entries.append(
            {
                "resource": {
                    "resourceType": "Condition",
                    "id": cid,
                    "clinicalStatus": {"coding": [{"code": "active"}]},
                    "verificationStatus": {"coding": [{"code": "confirmed"}]},
                    "code": _cc(rng, "http://snomed.info/sct", code, display),
                    "subject": {"reference": f"urn:uuid:{pid}"},
                    "encounter": {"reference": f"urn:uuid:{eid}"},
                    "onsetDateTime": start,
                    "recordedDate": start,
                }
            }
        )
        for _ in range(7):
            entries.append(
                {"resource": _observation(rng, _uuid(rng), pid, eid, truth)}
            )
    # Every bundle after the first resends an earlier observation
    # unchanged: the same resource id in two bundles, kept once by the ETL.
    sent = truth["_raw"]
    if sent:
        oid = list(sent)[int(rng.integers(0, len(sent)))]
        entries.append({"resource": sent[oid]})
    for e in entries:
        r = e["resource"]
        if r["resourceType"] == "Observation":
            sent.setdefault(r["id"], r)
    return {"resourceType": "Bundle", "type": "transaction", "entry": entries}


def _patient(rng):
    return {
        "resourceType": "Patient",
        "id": _uuid(rng),
        "gender": ["male", "female"][int(rng.integers(0, 2))],
        "birthDate": f"{int(rng.integers(1940, 2005))}-0{int(rng.integers(1, 10))}-1{int(rng.integers(0, 10))}",
        "address": [
            {
                "line": ["12 Main St"] if rng.random() < 0.8 else None,
                "city": "Boston",
                "state": "MA",
                "postalCode": "02110",
                "country": "US",
                "extension": [
                    {
                        "extension": [
                            {"valueDecimal": round(float(rng.uniform(41, 43)), 6)},
                            {"valueDecimal": round(float(rng.uniform(-72, -70)), 6)},
                        ]
                    }
                ],
            }
        ],
        "extension": [
            {"extension": [{"valueString": "x"}, {"valueString": "White"}]},
            {"extension": [{"valueString": "x"}, {"valueString": "Nonhispanic"}]},
        ],
    }


def make_fhir(raw_dir: str, seed: int, n_files: int, n_patients: int) -> dict:
    """Write ``n_files`` bundle files to ``raw_dir``, each with two
    encounters, one condition and seven observations per encounter;
    patients are reused across bundles when ``n_files > n_patients``.
    The resource counts do not depend on the seed. Returns the ground truth:
    resource id sets per table and each observation's expected row."""
    os.makedirs(raw_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    patients = [_patient(rng) for _ in range(n_patients)]
    truth: dict = {
        "patient": set(),
        "encounter": set(),
        "condition": set(),
        "observation": {},
        "_raw": {},
        "bytes": 0,
    }
    for i in range(n_files):
        patient = patients[i % n_patients]
        doc = json.dumps(_bundle(rng, patient, truth), indent=1)
        with open(os.path.join(raw_dir, f"bundle_{i:05d}.json"), "w") as f:
            f.write(doc)
        truth["bytes"] += len(doc)
    del truth["_raw"]
    return truth
