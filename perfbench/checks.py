"""Output checks. Every op the harness runs is checked here against the
generator's ground truth, or, for dashboard answers, against DuckDB over the
files graft published. Each check returns a list of mismatches (empty = ok).
"""
import csv
import glob
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

import gen


def _close(a, b):
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def check_nh_etl(op, truth):
    """A pass of the paper's pipeline: staged counts, planted duplicate-key
    groups, the curated fact, the state view and every published metric."""
    bad = []
    for key in ("staged", "dup_groups", "fact_rows", "fine_cents"):
        if op.get(key) != truth[key]:
            bad.append(f"{key}: got {op.get(key)}, want {truth[key]}")
    want_status = {k: "warn" if n > 0 else "ok" for k, n in truth["dup_groups"].items()}
    if op.get("audit_status") != want_status:
        bad.append(f"audit_status: got {op.get('audit_status')}, want {want_status}")
    if op.get("state_rows") != len(truth["by_state"]):
        bad.append(f"state_rows: got {op.get('state_rows')}")
    parts = sorted(glob.glob(os.path.join(op["out"], "part-*.csv")))
    rows = []
    for p in parts:
        with open(p, newline="") as f:
            r = csv.reader(f)
            header = next(r, None)
            if header != ["PROVNUM", "STATE", "CY_Qtr", "nurse_to_patient_ratio",
                          "contract_vs_employed_ratio", "total_nurse_hours"]:
                bad.append(f"metrics header {header}")
                continue
            rows += [(a, b, c, float(x), float(y), float(z)) for a, b, c, x, y, z in r]
    want = truth["metrics"]
    if len(rows) != len(want):
        bad.append(f"metrics rows: got {len(rows)}, want {len(want)}")
    if sorted(r[:3] for r in rows) != [r[:3] for r in want]:
        bad.append("metrics keys differ")
    if gen.metrics_checksum(rows) != gen.metrics_checksum(want):
        bad.append("metrics rounded-ratio checksum differs")
    return bad


def check_doc_curation(op, truth):
    """A curation pass: the packed output holds exactly the final survivors,
    with their token counts, prefix-sum offsets and sequence spans; a traced
    pass also yields the exact survivor set after each stage."""
    bad = []
    for stage, ids in op.get("survivors", {}).items():
        if set(ids) != truth["survivors"][stage] or len(ids) != len(set(ids)):
            bad.append(f"survivors after {stage}: {len(ids)} ids, "
                       f"want {len(truth['survivors'][stage])}")
    t = pq.read_table(op["out"]).to_pydict()
    order = sorted(range(len(t["doc_id"])), key=t["doc_id"].__getitem__)
    ids = [t["doc_id"][i] for i in order]
    if ids != sorted(truth["n_tokens"]):
        return bad + [f"packed ids: {len(ids)}, want {len(truth['n_tokens'])}"]
    seq, off = truth["seq_len"], 0
    for i in order:
        d, n = t["doc_id"][i], t["n_tokens"][i]
        if (n != truth["n_tokens"][d] or t["tok_offset"][i] != off
                or t["seq_first"][i] != off // seq
                or t["seq_last"][i] != (off + n - 1) // seq):
            return bad + [f"packing of doc {d} differs"]
        off += n
    if off != truth["token_total"]:
        bad.append(f"token total {off}, want {truth['token_total']}")
    if max(t["seq_last"]) + 1 != truth["sequences"]:
        bad.append(f"sequences {max(t['seq_last']) + 1}, want {truth['sequences']}")
    return bad


class DashOracle:
    """Dashboard answers computed by DuckDB over the published metrics."""

    TYPES = {"PROVNUM": "VARCHAR", "STATE": "VARCHAR", "CY_Qtr": "VARCHAR",
             "nurse_to_patient_ratio": "DOUBLE",
             "contract_vs_employed_ratio": "DOUBLE", "total_nurse_hours": "DOUBLE"}
    VIEWS = {"staging_penalties", "staging_quality_measures", "dq_audit_penalties",
             "dq_audit_quality_measures", "fact_penalty", "v_penalties_by_state"}

    def __init__(self, published_dir, truth):
        self.truth = truth
        self.db = duckdb.connect()
        files = sorted(glob.glob(os.path.join(published_dir, "part-*.csv")))
        self.db.execute(
            "CREATE TABLE m AS SELECT * FROM read_csv(?, header = true, columns = ?)",
            [files, self.TYPES])
        self.memo = {}
        self.quarters = [r[0] for r in self._sql(
            "SELECT DISTINCT CY_Qtr FROM m WHERE CY_Qtr IS NOT NULL ORDER BY 1")]

    def _sql(self, q, *args):
        return [tuple(r) for r in self.db.execute(q, list(args)).fetchall()]

    def expected(self, q):
        key = json.dumps(q, sort_keys=True)
        if key not in self.memo:
            self.memo[key] = self._expected(q)
        return self.memo[key]

    def _expected(self, q):
        k = q["kind"]
        sel = "STATE = ? AND PROVNUM IN (?, ?, ?)"
        if k == "options":
            c = q["column"]
            return self._sql(f"SELECT DISTINCT {c} FROM m WHERE {c} IS NOT NULL ORDER BY 1")
        if k == "filter_preview":
            return self._sql(f"SELECT * FROM m WHERE {sel}", q["state"], *q["provnums"])
        if k == "grouped_mean":
            g, m = q["group"], q["metric"]
            return self._sql(f"SELECT {g}, avg({m}) FROM m GROUP BY 1 ORDER BY 1")
        if k == "pivot":
            cells = {(s, c): v for s, c, v in self._sql(
                f"SELECT STATE, CY_Qtr, sum({q['metric']}) FROM m GROUP BY 1, 2")}
            cols = q["values"] or self.quarters
            states = sorted({s for s, _ in cells})
            return [tuple([s] + [cells.get((s, c)) for c in cols]) for s in states]
        if k == "numeric_means":
            return self._sql("SELECT avg(nurse_to_patient_ratio), "
                             "avg(contract_vs_employed_ratio), avg(total_nurse_hours) "
                             f"FROM m WHERE {sel}", q["state"], *q["provnums"])
        if k == "catalog":
            return sorted(self.truth["by_state"].items())
        raise ValueError(k)

    def check(self, res):
        q, rows = res["query"], [tuple(r) for r in res["rows"]]
        want = self.expected(q)
        k = q["kind"]
        if k == "filter_preview":
            pool = list(want)
            for r in rows:
                if r not in pool:
                    return [f"{k}: row {r} not in the filtered set"]
                pool.remove(r)
            n = min(5, len(want))
            return [] if len(rows) == n else [f"{k}: {len(rows)} rows, want {n}"]
        if k == "catalog":
            return self._check_catalog(res, rows, want)
        if k == "pivot" and res["cols"] != ["STATE"] + (q["values"] or self.quarters):
            return [f"{k}: columns {res['cols']}"]
        if len(rows) != len(want):
            return [f"{k}: {len(rows)} rows, want {len(want)}"]
        for r, w in zip(rows, want):
            if len(r) != len(w) or not all(
                    a == b if isinstance(b, str) or isinstance(a, str) else _close(a, b)
                    for a, b in zip(r, w)):
                return [f"{k}: got {r}, want {w}"]
        return []

    def _check_catalog(self, res, rows, want):
        missing = self.VIEWS - set(res["tables"])
        if missing:
            return [f"catalog: missing tables {sorted(missing)}"]
        rows = sorted(rows)
        if [r[0] for r in rows] != [w[0] for w in want]:
            return ["catalog: v_penalties_by_state states differ"]
        for (st, events, total, fines, avg), (_, w) in zip(rows, want):
            if (events != w["penalty_events"] or round(total * 100) != w["total_cents"]
                    or (fines or 0) != w["fine_count"]
                    or abs(avg - w["total_cents"] / 100 / w["penalty_events"]) > 0.0051):
                return [f"catalog: state {st} got {(events, total, fines, avg)}, want {w}"]
        return []
