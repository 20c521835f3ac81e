"""Seeded input generators for the benchmark workloads.

Each generator writes single-file parquet tables into an output
directory and returns a manifest: the table digests plus everything the
output checks need to know in advance (expected appended rows per load,
patient and month counts). The same seed gives byte-identical files;
row counts, key structure and duplicate structure do not depend on the
seed, so a different seed changes the data and not the workload shape.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""

import datetime as dt
import hashlib
import json
import os
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)
import pyarrow.parquet as pq

# ---------------------------------------------------------------- common


def _write(out_dir, name, table):
    # Fixed writer options and no wall-clock metadata: same table, same bytes.
    path = os.path.join(out_dir, name + ".parquet")
    pq.write_table(table.replace_schema_metadata(None), path,
                   compression="snappy", use_dictionary=True,
                   row_group_size=1 << 20, write_statistics=True)
    return path


def _digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), size=n, p=p)]


def _nullify(rng, arr, share):
    out = arr.copy()
    out[rng.random(len(arr)) < share] = None
    return out


def _dirty_dates(rng, n, lo="1985-01-01", hi="2024-06-30"):
    """ISO date strings with out-of-range, garbage, "" and null values."""
    lo_d, hi_d = np.datetime64(lo), np.datetime64(hi)
    days = rng.integers(0, int((hi_d - lo_d).astype(int)), size=n)
    out = np.datetime_as_string(lo_d + days.astype("timedelta64[D]")).astype(object)
    u = rng.random(n)
    out[u < 0.03] = "1850-03-01"        # below the clamp floor
    out[(u >= 0.03) & (u < 0.05)] = "2199-01-01"  # future-dated
    out[(u >= 0.05) & (u < 0.07)] = "31/02/2019"  # garbage
    out[(u >= 0.07) & (u < 0.09)] = ""
    out[(u >= 0.09) & (u < 0.12)] = None
    return out


def _dirty_numbers(rng, n, lo, hi):
    out = rng.integers(lo, hi, size=n).astype(str).astype(object)
    u = rng.random(n)
    out[u < 0.03] = "-3"
    out[(u >= 0.03) & (u < 0.05)] = "500"
    out[(u >= 0.05) & (u < 0.07)] = "n/a"
    out[(u >= 0.07) & (u < 0.09)] = ""
    out[(u >= 0.09) & (u < 0.11)] = None
    return out


def _str(a):
    return pa.array(list(a), type=pa.string())


# ------------------------------------------------------- ods_incremental

ODS_CYCLES = 3
ODS_NEW_KEYS = 3000        # new keys per family per cycle
ODS_RESENT_KEYS = 1200     # already-loaded keys re-sent per cycle (cycle >= 2)
ODS_SITES = 24
ODS_NULL_SITE_SHARE = 0.02  # keys whose SiteCode component is null

MARITAL = ["Married", "Single", "Divorced", "Widowed", "married", "single",
           "Never married", "Cohabiting"]
EDUCATION = ["Primary", "Secondary", "College", "University", "None", "primary"]


def _ods_lookups():
    marital = pa.table({
        "source_name": _str(["Married", "Single", "Divorced", "Widowed",
                             "married", "single", "Never married"]),
        "target_name": _str(["Married Monogamous", "Single", "Divorced",
                             "Widowed", "Married Monogamous", "Single", None]),
    })
    education = pa.table({
        "source_name": _str(["Primary", "Secondary", "College", "primary"]),
        "target_name": _str(["Primary School", "Secondary School",
                             "Tertiary", "Primary School"]),
    })
    return marital, education


def _ods_keys(rng, n_total):
    """Distinct (SiteCode, PatientPK) identities; a null SiteCode is one
    more identity under the null-safe key, so PatientPK stays unique."""
    sites = (10000 + 37 * np.arange(ODS_SITES)).astype(np.int32)
    pk = rng.permutation(np.arange(1, 40 * n_total, dtype=np.int64))[:n_total]
    site = sites[rng.integers(0, ODS_SITES, size=n_total)].astype(object)
    site[rng.random(n_total) < ODS_NULL_SITE_SHARE] = None
    return site, pk


def _ods_delta_keys(rng, cycle, site, pk):
    """Key indices in one cycle's delta: the cycle's new block plus a
    seeded sample of earlier blocks, each with 1-3 versions."""
    new = np.arange((cycle - 1) * ODS_NEW_KEYS, cycle * ODS_NEW_KEYS)
    if cycle > 1:
        old = rng.choice((cycle - 1) * ODS_NEW_KEYS, size=ODS_RESENT_KEYS,
                         replace=False)
        idx = np.concatenate([new, old])
    else:
        idx = new
    versions = 1 + (rng.random(len(idx)) < 0.25) + (rng.random(len(idx)) < 0.05)
    rows = np.repeat(idx, versions)
    return rows[rng.permutation(len(rows))]


def _ods_common(rng, rows, site, pk, cycle, id_base):
    n = len(rows)
    created0 = np.datetime64("2024-01-01T00:00:00") + np.timedelta64(cycle * 7, "D")
    created = created0 + rng.integers(0, 6 * 86400, size=n).astype("timedelta64[s]")
    # Version ties on Created are broken by ID (dedup orders by both).
    created[rng.random(n) < 0.05] = created0
    return {
        "ID": pa.array(id_base + np.arange(n, dtype=np.int64)),
        "SiteCode": pa.array(list(site[rows]), type=pa.int32()),
        "_pk": pk[rows],
        "_created": pa.array(created.astype("datetime64[us]")),
    }


def _ct_table(rng, rows, site, pk, cycle, id_base):
    c = _ods_common(rng, rows, site, pk, cycle, id_base)
    n = len(rows)
    return pa.table({
        "ID": c["ID"], "SiteCode": c["SiteCode"],
        "PatientPK": pa.array(c["_pk"]),
        "PatientID": _str(_nullify(rng, np.char.mod("CCC-%08d", c["_pk"]).astype(object), 0.05)),
        "FacilityName": _str(np.char.mod("Facility %d", np.where(
            site[rows] == None, 0, site[rows]).astype(np.int64))),
        "Gender": _str(_pick(rng, ["Male", "Female", "M", "F", "Unknown", None], n,
                             [0.35, 0.35, 0.12, 0.12, 0.03, 0.03])),
        "DOB": _str(_dirty_dates(rng, n, "1950-01-01", "2020-12-31")),
        "RegistrationAtCCC": _str(_dirty_dates(rng, n)),
        "RegistrationATPMTCT": _str(_dirty_dates(rng, n)),
        "LastVisit": _str(_dirty_dates(rng, n)),
        "StartARTDate": _str(_dirty_dates(rng, n)),
        "PreviousARTStartDate": _str(_dirty_dates(rng, n)),
        "MaritalStatus": _str(_pick(rng, MARITAL + ["Separated", "", None], n)),
        "EducationLevel": _str(_pick(rng, EDUCATION + ["Other", "", None], n)),
        "Emr": _str(_pick(rng, ["Open Medical Records System - OpenMRS",
                                "Ampath AMRS", "KenyaEMR", None], n)),
        "Project": _str(_pick(rng, ["I-TECH", "HMIS", "Ampathplus", "AMPATH",
                                    "UCSF Clinical Kisumu", ""], n)),
        "Weight": _str(_dirty_numbers(rng, n, 3, 140)),
        "Height": _str(_dirty_numbers(rng, n, 45, 210)),
        "Created": c["_created"],
        "RecordUUID": _str(np.char.mod("%032x", rng.integers(0, 2**62, size=n))),
        "voided": pa.array(rng.random(n) < 0.02),
    })


def _hts_table(rng, rows, site, pk, cycle, id_base):
    c = _ods_common(rng, rows, site, pk, cycle, id_base)
    n = len(rows)
    return pa.table({
        "ID": c["ID"], "SiteCode": c["SiteCode"],
        "PatientPK": pa.array(c["_pk"]),
        "HtsNumber": _str(_nullify(rng, np.char.mod("HTS%09d", c["_pk"]).astype(object), 0.04)),
        "Dob": _str(_dirty_dates(rng, n, "1940-01-01", "2022-12-31")),
        "EverTestedForHiv": _str(_pick(rng, ["0", "1", "", None], n,
                                       [0.45, 0.45, 0.05, 0.05])),
        "Gender": _str(_pick(rng, ["Male", "Female", "M", "F", None], n)),
        "MaritalStatus": _str(_pick(rng, MARITAL + ["", None], n)),
        "County": _str(_pick(rng, ["Nairobi", "Kisumu", "Siaya", "Homa Bay", ""], n)),
        "TestResult": _str(_pick(rng, ["Negative", "Positive", "Inconclusive"], n)),
        "DateExtracted": c["_created"],
    })


PREP_EMPTY_TO_NULL = [
    "DateLastUsedPrev", "PrevPrepReg", "ClientPreviouslyonPrep",
    "DateStartedPrEPattransferringfacility", "TransferFromFacility",
    "TransferInDate", "Refferedfrom", "PopulationType", "ReferralPoint",
    "ClientType", "Ward", "LandMark", "SubCounty", "CountyofBirth", "Sex"]


def _prep_table(rng, rows, site, pk, cycle, id_base):
    c = _ods_common(rng, rows, site, pk, cycle, id_base)
    n = len(rows)
    cols = {
        "ID": c["ID"], "SiteCode": c["SiteCode"],
        "PatientPk": pa.array(c["_pk"]),
        "PrepNumber": _str(_nullify(rng, np.char.mod("PREP%08d", c["_pk"]).astype(object), 0.04)),
        "DateStartedPrEP": _str(_dirty_dates(rng, n, "2015-01-01", "2024-06-30")),
        "KeyPopulationType": _str(_pick(rng, ["160579", "160578", "165084", "105",
                                              "GP", "", None], n)),
        "Inschool": _str(_pick(rng, ["1", "2", "", None], n)),
        "MaritalStatus": _str(_pick(rng, ["Married", "Never married",
                                          "Living with partner", "Polygamous",
                                          "OTHER NON-CODED", "Separated", "Single",
                                          None], n)),
        "County": _str(_pick(rng, ["THARAKA - NITHI", "North Alego", "HOMABAY",
                                   "Kambiti", "KIAMBU''", "Majoge", "Kagen", "",
                                   "Nairobi", "Kisumu", None], n)),
        "Created": c["_created"],
    }
    for name in PREP_EMPTY_TO_NULL:
        cols[name] = _str(_pick(rng, ["x%d" % i for i in range(5)] + ["", None], n,
                                [0.16] * 5 + [0.12, 0.08]))
    return pa.table(cols)


ODS_FAMILIES = [("ct", _ct_table), ("hts", _hts_table), ("prep", _prep_table)]


def gen_ods(seed, out_dir):
    paths = []
    marital, education = _ods_lookups()
    paths.append(_write(out_dir, "lkp_marital", marital))
    paths.append(_write(out_dir, "lkp_education", education))
    expected = {}
    for fi, (fam, build) in enumerate(ODS_FAMILIES):
        rng = np.random.default_rng([seed, fi])
        site, pk = _ods_keys(rng, ODS_CYCLES * ODS_NEW_KEYS)
        id_base = 1
        for cycle in range(1, ODS_CYCLES + 1):
            rows = _ods_delta_keys(rng, cycle, site, pk)
            table = build(rng, rows, site, pk, cycle, id_base)
            id_base += len(rows)
            paths.append(_write(out_dir, "%s_c%d" % (fam, cycle), table))
            # Each new key collapses to one row; re-sent keys are already
            # in the target under the null-safe key.
            expected["%s_c%d" % (fam, cycle)] = ODS_NEW_KEYS
    return paths, {"cycles": ODS_CYCLES, "families": [f for f, _ in ODS_FAMILIES],
                   "expected_appended": expected,
                   "keys_per_family": ODS_CYCLES * ODS_NEW_KEYS}


# ------------------------------------------------- ART cohort inputs

ART_PATIENTS = 3000
ART_WINDOWS = [("2019-01-31", "2023-12-31")]
EXIT_REASONS = ["DIED", "TRANSFER OUT", "LOST TO FOLLOW UP", "STOPPED TREATMENT"]


def _months(frm, to):
    a, b = dt.date.fromisoformat(frm), dt.date.fromisoformat(to)
    return (b.year - a.year) * 12 + (b.month - a.month) + 1


def _dates(days, null=None):
    return pa.array(days.astype("datetime64[D]"), type=pa.date32(), mask=null)


def gen_art(seed, out_dir):
    rng = np.random.default_rng([seed, 7])
    n = ART_PATIENTS
    offset = int(rng.integers(1, 1000)) * 1_000_000
    pid = offset + rng.permutation(np.arange(1, n + 1, dtype=np.int64))
    # ART start spread so some patients are not yet on ART in early months.
    start = np.datetime64("2014-01-01") + rng.integers(0, 365 * 10, size=n).astype("timedelta64[D]")
    horizon = np.datetime64("2024-12-31")

    # Visits: 4-19 per patient, the first on the ART start date.
    n_visits = rng.integers(4, 20, size=n)
    owner = np.repeat(np.arange(n), n_visits)
    gaps = rng.choice([28, 30, 56, 84, 90, 180], size=len(owner))
    first = np.concatenate([[0], np.cumsum(n_visits)[:-1]])
    gaps[first] = 0
    csum = np.cumsum(gaps)
    v_date = start[owner] + (csum - csum[first][owner]).astype("timedelta64[D]")
    keep = v_date <= horizon
    owner, v_date = owner[keep], v_date[keep]
    v_next = v_date + rng.choice([28, 30, 56, 90, 400], size=len(owner),
                                 p=[0.3, 0.3, 0.2, 0.15, 0.05]).astype("timedelta64[D]")
    no_next = rng.random(len(owner)) < 0.04  # no next appointment
    perm = rng.permutation(len(owner))
    visits = pa.table({"patient_id": pa.array(pid[owner][perm]),
                       "visit_date": _dates(v_date[perm]),
                       "visit_id": pa.array(np.arange(len(owner), dtype=np.int64)),
                       "next_appt": _dates(v_next[perm], no_next[perm])})
    # Dispenses at most visits.
    disp = rng.random(len(owner)) < 0.8
    d_owner, d_date = owner[disp], v_date[disp]
    d_ret = d_date + rng.choice([30, 60, 90], size=len(d_owner)).astype("timedelta64[D]")
    perm = rng.permutation(len(d_owner))
    pharmacy = pa.table({"patient_id": pa.array(pid[d_owner][perm]),
                         "dispense_date": _dates(d_date[perm]),
                         "expected_return": _dates(d_ret[perm]),
                         "disp_id": pa.array(np.arange(len(d_owner), dtype=np.int64)),
                         "disp_sub": pa.array(rng.integers(0, 3, size=len(d_owner)))})
    ex = rng.random(n) < 0.15
    n_ex = int(ex.sum())
    exits = pa.table({"patient_id": pa.array(pid[ex]),
                      "exit_date": _dates(start[ex] + rng.integers(
                          30, 365 * 6, size=n_ex).astype("timedelta64[D]")),
                      "exit_reason": _str(_pick(rng, EXIT_REASONS, n_ex)),
                      "exit_id": pa.array(np.arange(n_ex, dtype=np.int64))})
    # Discontinuations, some dated past the spine (the 'V' override branch).
    dc = rng.random(n) < 0.08
    n_dc = int(dc.sum())
    disc = pa.table({"patient_id": pa.array(pid[dc]),
                     "disc_date": _dates(start[dc] + rng.integers(
                         60, 365 * 12, size=n_dc).astype("timedelta64[D]")),
                     "disc_reason": _str(_pick(rng, EXIT_REASONS, n_dc)),
                     "disc_id": pa.array(np.arange(n_dc, dtype=np.int64))})
    patients = pa.table({"patient_id": pa.array(np.sort(pid))})
    paths = [_write(out_dir, name, t) for name, t in [
        ("patients", patients), ("visits", visits), ("pharmacy", pharmacy),
        ("exits", exits), ("disc", disc)]]
    return paths, {"patients": n,
                   "windows": [{"from": a, "to": b, "months": _months(a, b)}
                               for a, b in ART_WINDOWS]}


# ---------------------------------------------------- construction_heavy

# The base is the repository's sf0.01 test data (data/sf0.01, a verbatim
# copy of the six tables these queries read). The run seed applies the
# shape-preserving per-copy transforms of graft.tools.GenScale: key offset,
# name tag, token suffix, embedding rotation and sign mask, plus a seeded
# row order. Every seed therefore has the base's graph, duplicate and
# cluster structure.
BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
BASE_TABLES = ["supplier", "orders", "lineitem", "documents", "embeddings", "events"]
COPY_OFFSET = 45045000  # divisible by 2..13 and 1000, as in GenScale
# Two construction-heavy rows are left out to fit the run-time budget:
# semdedup (knn_graph_ivfpq trains the same k-means index, dedup_components
# runs the same connected-components closure) and label_prop (pagerank
# builds the same edge graph and iterates over it the same way).
QUERIES = ["pagerank", "dedup_components", "knn_graph_ivfpq",
           "stream_episode_opens_files"]


def _sign_mask(copy, dim):
    # GenScale.copySign: md5-derived +-1 per (copy, dim).
    out = np.empty(dim, dtype=np.float32)
    for i in range(dim):
        hx = hashlib.md5(("genscale:%d:%d" % (copy, i)).encode()).hexdigest()
        out[i] = 1.0 if int(hx[:15], 16) % 2 == 0 else -1.0
    return out


def _copy_of(name, t, copy):
    """One GenScale copy of a base table, as a dict of replacement columns."""
    off = COPY_OFFSET * copy
    bump = {"supplier": ["s_suppkey"], "orders": ["o_orderkey", "o_custkey"],
            "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
            "documents": ["doc_id"], "events": ["event_id", "user_id"]}.get(name, [])
    out = {k: pa.compute.add(t[k], off) for k in bump}
    if name == "supplier":
        # Constant-length tag, so name lengths do not depend on the seed.
        out["s_name"] = _str(s + " " + str(copy % 10) * 8 for s in t["s_name"].to_pylist())
    elif name == "documents":
        sfx = r"\1z%02d" % copy
        text = [re.sub(r"(\S+)", sfx, s) for s in t["text"].to_pylist()]
        out["text"] = _str(text)
        out["n_chars"] = pa.array([len(s) for s in text], type=pa.int64())
    elif name == "embeddings":
        # vec_id keeps its base values: PQ training samples the lowest ids.
        n = t.num_rows
        vecs = t["embedding"].combine_chunks().flatten().to_numpy().reshape(n, -1)
        vecs = np.roll(vecs, -(copy % vecs.shape[1]), axis=1) * _sign_mask(copy, vecs.shape[1])
        out["embedding"] = pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.astype(np.float32).ravel()), vecs.shape[1]).cast(t["embedding"].type)
    return pa.Table.from_arrays([out.get(c, t[c]) for c in t.column_names], schema=t.schema)


def gen_construction(seed, out_dir):
    rng = np.random.default_rng([seed, 11])
    copy = 1 + seed % 97
    paths = []
    for name in BASE_TABLES:
        t = _copy_of(name, pq.read_table(os.path.join(BASE_DIR, name + ".parquet")), copy)
        # The file stream replays events in file order, which must stay time order.
        if name != "events":
            t = t.take(pa.array(rng.permutation(t.num_rows)))
        paths.append(_write(out_dir, name, t))
    art_paths, art = gen_art(seed, out_dir)
    return paths + art_paths, dict(art, queries=QUERIES, base="sf0.01", copy=copy)


GENERATORS = {"ods_incremental": gen_ods, "construction_heavy": gen_construction}


def generate(workload, seed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    paths, manifest = GENERATORS[workload](seed, out_dir)
    manifest.update({"workload": workload, "seed": seed, "digest": _digest(paths),
                     "rows": {os.path.basename(p)[:-8]: pq.ParquetFile(p).metadata.num_rows
                              for p in paths}})
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    m = generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
    print(json.dumps({k: m[k] for k in ("workload", "seed", "digest", "rows")}))
