"""Output checks. Each returns a list of problems (empty = correct) so a
run counts failures instead of stopping at the first one.

Registry rows are compared with their DuckDB twin (``ORACLE``) with the
normalisation and hash of ``tools/check_correctness.py``, imported from
it: row count, column names and an order-insensitive md5 over the
stringified rows. The clinical file steps are compared with the
generator's ground truth, and both reports are recomputed here in plain
Python.
"""

from __future__ import annotations

import math
import os

from tools.check_correctness import TABLES, _rows_fingerprint

TRUTH_TABLES = ("patient", "encounter", "condition", "observation")


def digest(cols: list[str], rows: list[tuple]) -> tuple[int, tuple[str, ...], str]:
    """(row count, sorted column names, order-insensitive value hash)."""
    return len(rows), tuple(sorted(cols)), _rows_fingerprint(cols, rows)


def compare(got: tuple, want: tuple) -> list[str]:
    problems = []
    if got[0] != want[0]:
        problems.append(f"rowcount {got[0]} != {want[0]}")
    if got[1] != want[1]:
        problems.append(f"columns {list(got[1])} != {list(want[1])}")
    if not problems and got[2] != want[2]:
        problems.append("value hash differs")
    return problems


class Oracle:
    """DuckDB twins over the benchmark's own tables (those present in
    ``tables_dir``)."""

    def __init__(self, tables_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for t in TABLES:
            if not os.path.exists(f"{tables_dir}/{t}.parquet"):
                continue
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'"
            )

    def digest(self, sql: str) -> tuple:
        res = self.con.execute(sql)
        cols = [d[0] for d in res.description]
        return digest(cols, res.fetchall())


# --------------------------------------------------------------------------
# Clinical ground truth
# --------------------------------------------------------------------------


def read_zone(zone: str) -> dict[str, list[dict]]:
    """The curated zone's four tables, read with pyarrow (no Spark job)."""
    import pyarrow.parquet as pq

    return {t: pq.read_table(f"{zone}/{t}").to_pylist() for t in TRUTH_TABLES}


def check_zone(zone: dict[str, list[dict]], truth: dict) -> list[str]:
    """The rows of one generated batch in the curated zone: each emitted
    resource id exactly once, and every observation's extracted values."""
    problems = []
    for table in TRUTH_TABLES:
        ids = [r[f"{table}_id"] for r in zone[table] if r[f"{table}_id"] in truth[table]]
        if len(ids) != len(set(ids)) or set(ids) != set(truth[table]):
            problems.append(f"{table}: {len(ids)} rows of {len(truth[table])} ids")
    for r in zone["observation"]:
        w = truth["observation"].get(r["observation_id"])
        if w is None:
            continue
        for col in ("patient_id", "code_display", "value_unit", "effective_datetime"):
            if r[col] != w[col]:
                problems.append(f"observation {r['observation_id']}.{col}")
        got_q, want_q = r["value_quantity"], w["value_quantity"]
        if (got_q is None) != (want_q is None) or (
            got_q is not None and not math.isclose(got_q, want_q, rel_tol=0, abs_tol=1e-9)
        ):
            problems.append(f"observation {r['observation_id']}.value_quantity")
        if w["value_string"] is not None and r["value_string"] != w["value_string"]:
            problems.append(f"observation {r['observation_id']}.value_string")
        if len(problems) > 5:
            break
    return problems


def unexpected_rows(zone: dict[str, list[dict]], truths: list[dict]) -> list[str]:
    return [
        f"{table}: rows with ids no batch emitted"
        for table in TRUTH_TABLES
        if any(all(r[f"{table}_id"] not in t[table] for t in truths) for r in zone[table])
    ]


def _latest(rows: list[dict], keys) -> dict[str, tuple]:
    """Per patient, per key: the value of the row with the greatest
    (effective_datetime, observation_id)."""
    out: dict[str, dict[str, tuple]] = {}
    for oid, r in rows:
        if r["code_display"] in keys:
            k = (r["effective_datetime"], oid)
            cur = out.setdefault(r["patient_id"], {}).get(r["code_display"])
            if cur is None or k > cur[0]:
                out[r["patient_id"]][r["code_display"]] = (k, r)
    return out


def _band(v, legs, otherwise=None):
    if v is None:
        return "n/a"
    for test, label in legs:
        if test(v):
            return label
    return otherwise


def expected_reports(truths: list[dict]) -> dict[str, dict[str, tuple]]:
    """Both reports recomputed from the ground truth: patient → the
    report's status columns."""
    from gen import CVD, T2D, URINE

    rows = [(k, v) for t in truths for k, v in t["observation"].items()]
    cvd = {}
    for pid, latest in _latest(rows, set(CVD.values())).items():
        val = {n: latest[k][1]["value_quantity"] if k in latest else None for n, k in CVD.items()}
        hdl, ldl, trig, tc = (val[n] for n in ("hdl", "ldl", "trig", "total_chol"))
        status = (
            _band(hdl, [(lambda x: x >= 60, "Protective"), (lambda x: 40 <= x <= 59, "Normal"),
                        (lambda x: x < 40, "Low")]),
            _band(ldl, [(lambda x: x >= 160, "High"), (lambda x: 130 <= x <= 159, "Borderline"),
                        (lambda x: 100 <= x <= 129, "Near optimal"), (lambda x: x < 100, "Optimal")]),
            _band(trig, [(lambda x: x >= 200, "High"), (lambda x: 150 <= x <= 199, "Borderline"),
                         (lambda x: x < 150, "Normal")]),
            _band(tc, [(lambda x: x >= 240, "High"), (lambda x: 200 <= x <= 239, "Borderline"),
                       (lambda x: x < 200, "Desirable")]),
        )
        if (
            (ldl is not None and ldl >= 130) or (trig is not None and trig >= 150)
            or (hdl is not None and hdl < 40) or (tc is not None and tc >= 240)
        ):
            overall = "At risk"
        elif all(v is None for v in (hdl, ldl, trig, tc)):
            overall = "Insufficient data"
        else:
            overall = "Likely normal"
        cvd[pid] = (hdl, ldl, trig, tc, *status, overall)
    t2d = {}
    keys = set(T2D.values()) | set(URINE)
    for pid, latest in _latest(rows, keys).items():
        a1c, glu = (latest[k][1]["value_quantity"] if k in latest else None for k in T2D.values())
        texts = [
            latest[k][1]["value_string"].strip().lower()
            for k in URINE
            if k in latest and latest[k][1]["value_string"] is not None
        ]
        urine = max(texts) if texts else None
        status = (
            _band(a1c, [(lambda x: x >= 6.5, "Diabetes"), (lambda x: x >= 5.7, "Prediabetes")], "Normal"),
            _band(glu, [(lambda x: x >= 126, "Diabetes"), (lambda x: 100 <= x <= 125, "Prediabetes"),
                        (lambda x: 70 <= x <= 99, "Normal"), (lambda x: x < 70, "Low")]),
            _band(urine, [(lambda x: x in ("positive", "pos"), "Abnormal"),
                          (lambda x: x == "trace", "Borderline"),
                          (lambda x: x in ("negative", "neg"), "Normal")], "n/a"),
        )
        if (a1c is not None and a1c >= 6.5) or (glu is not None and glu >= 126) or urine in ("positive", "pos"):
            overall = "Diabetes likely (lab criteria met)"
        elif (
            (a1c is not None and 5.7 <= a1c <= 6.4) or (glu is not None and 100 <= glu <= 125)
            or urine == "trace"
        ):
            overall = "Prediabetes / Elevated risk"
        elif a1c is None and glu is None and urine is None:
            overall = "Insufficient data"
        else:
            overall = "Normal"
        t2d[pid] = (a1c, glu, urine, *status, overall)
    return {"cvd": cvd, "t2d": t2d}


CVD_COLS = ("hdl", "ldl", "trig", "total_chol", "hdl_status", "ldl_status",
            "triglycerides_status", "total_chol_status", "overall_cvd_risk")
T2D_COLS = ("a1c", "glucose_blood", "glucose_urine_txt", "a1c_status",
            "glucose_blood_status", "glucose_urine_status", "overall_t2d_risk")


def check_report(rows: list[dict], cols: tuple[str, ...], want: dict[str, tuple]) -> list[str]:
    got = {r["patient"]: tuple(r[c] for c in cols) for r in rows}
    if len(got) != len(rows):
        return ["duplicate patients"]
    if got.keys() != want.keys():
        return [f"{len(got)} patients, want {len(want)}"]
    bad = [p for p in got if got[p] != want[p]]
    return [f"patient {p}: {got[p]} != {want[p]}" for p in bad[:3]]
