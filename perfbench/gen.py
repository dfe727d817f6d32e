"""Seeded input generator of the benchmark. The same seed gives
byte-identical inputs; another seed changes them.

etl_ingest: FHIR Patient records in the reference's fixture shapes
(FIXTURES.md A1, A2). Valid-and-consented, unconsented and invalid records
are equally likely, the proportions of the reference's mixed-batch fixture
(A2: one of each). A seeded share of stream MRNs repeats an earlier one, so
upserts tombstone earlier rows; that share is a parameter with no source
(see perfbench/README.md). The ground truth is latest-wins per valid,
consented MRN.
"""
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from oracle import digest

FIRST = ["Jane", "John", "Maria", "Wei", "Aisha", "Carlos", "Olga", "Kenji",
         "Fatima", "Liam", "Noor", "Pedro", "Sven", "Amara", "Ravi", "Elena"]
LAST = ["Doe", "Smith", "Garcia", "Chen", "Khan", "Silva", "Ivanova", "Sato",
        "Haddad", "Murphy", "Ali", "Costa", "Berg", "Okafor", "Patel", "Rossi"]
GENDERS = ["male", "female", "other", "unknown"]
PATIENT_SCHEMA = pa.schema([
    ("resourceType", pa.string()), ("mrn", pa.string()), ("name", pa.string()),
    ("birthDate", pa.string()), ("gender", pa.string()), ("ssn", pa.string()),
    ("consent", pa.map_(pa.string(), pa.bool_()))])


def _patient(rng, mrn):
    """One record and its kind: 'valid', 'blocked' or 'invalid', each with
    probability 1/3 as in the A2 mixed batch. Fields have the A1 shape."""
    u = rng.random()
    rec = {
        "resourceType": "Patient", "mrn": mrn,
        "name": f"{FIRST[rng.integers(len(FIRST))]} {LAST[rng.integers(len(LAST))]}",
        "birthDate":
        f"{rng.integers(1930, 2020)}-{rng.integers(1, 13):02d}-{rng.integers(1, 29):02d}",
        "gender": GENDERS[rng.integers(4)],
        "ssn":
        f"{rng.integers(1000):03d}-{rng.integers(100):02d}-{rng.integers(10000):04d}",
        "consent": [("data_sharing", True), ("research", bool(rng.random() < 0.5))],
    }
    if u < 1 / 3:
        # the A2 invalid variants, plus the A1 schema's ssn pattern and
        # resourceType constant
        v = rng.integers(6)
        if v == 0:
            rec["name"] = None
        elif v == 1:
            rec["birthDate"] = "01/15/1990"
        elif v == 2:
            rec["gender"] = "invalid_value"
        elif v == 3:
            rec["ssn"] = "123456789"
        elif v == 4:
            rec["mrn"], rec["name"] = None, None
        else:
            rec["resourceType"] = "Observation"
        return rec, "invalid"
    if u < 2 / 3:  # valid but not consented: false, missing key or no map
        v = rng.integers(3)
        rec["consent"] = ([("data_sharing", False)], [("research", True)], None)[v]
        return rec, "blocked"
    return rec, "valid"


def patients(out, seed, backfill, batches, batch_size, repeat_frac,
             points, maintain_every, warm_batches):
    """Writes backfill.parquet and batches.parquet; returns the ground truth
    after the whole stream ("full") and after its first `warm_batches`
    batches ("warm", what the warm pass checks)."""
    rng = np.random.default_rng([seed, 2])
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    next_id = iter(range(10**9))
    mrn_base = int(rng.integers(10**6))

    def fresh():
        return f"MRN-{mrn_base + next(next_id):08d}"

    latest, seen = {}, []
    counts = {"invalid": 0, "blocked": 0}

    def account(rec, kind):
        if kind == "valid":
            latest[rec["mrn"]] = (rec["birthDate"], rec["gender"],
                                  rec["mrn"], rec["name"], rec["ssn"])
        else:
            counts[kind] += 1
        if rec["mrn"] is not None:
            seen.append(rec["mrn"])

    rows = []
    for _ in range(backfill):
        rec, kind = _patient(rng, fresh())
        account(rec, kind)
        rows.append(rec)
    pq.write_table(pa.Table.from_pylist(rows, schema=PATIENT_SCHEMA),
                   out / "backfill.parquet")

    def truth(n_points):
        present = sorted(latest)
        absent = sorted(set(seen) - set(latest)) or [fresh()]
        n_absent = n_points // 4
        pick = [present[int(i)] for i in rng.choice(
            len(present), n_points - n_absent, replace=False)]
        pick += [absent[int(rng.integers(len(absent)))] for _ in range(n_absent)]
        cols, n, h = digest(["birthDate", "gender", "mrn", "name", "ssn"],
                            list(latest.values()))
        return {"patients": {"cols": cols, "rows": n, "hash": h},
                "quarantine": counts["invalid"], "blocked": counts["blocked"],
                "points": [[m, 1 if m in latest else 0] for m in pick]}

    rows = []
    warm = None
    for b in range(batches):
        if b == warm_batches:
            warm = truth(2)
        used = set()
        for pos in range(min(1000, batch_size)):
            mrn = None
            if rng.random() < repeat_frac:
                cand = seen[int(rng.integers(len(seen)))]
                mrn = cand if cand not in used else None
            mrn = mrn or fresh()
            used.add(mrn)
            rec, kind = _patient(rng, mrn)
            account(rec, kind)
            rows.append({**rec, "batch": b, "pos": pos})
    schema = PATIENT_SCHEMA.append(pa.field("batch", pa.int32())) \
        .append(pa.field("pos", pa.int32()))
    pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                   out / "batches.parquet")
    return {"etl": {"warm_batches": warm_batches,
                    "maintain_every": maintain_every,
                    "warm": warm, "full": truth(points)}}

