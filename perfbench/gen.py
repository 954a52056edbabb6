"""Seeded input generator for the poll workload (no Spark).

:func:`sierra_inputs` writes a Sierra-shaped active-patron scan, a
deleted-patron scan and the warehouse memo-cache slice (FIXTURES.md sections
1-3) to parquet once per seed, plus the facts the poll output checks compare
against: every record the run should emit, field by field, and the final
watermarks.  The headline pack needs no generator: it reads byte copies of the
repository's frozen test tables under ``testdata/``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import zoneinfo

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when a generator's output changes, so cached inputs are regenerated
GEN_VERSION = 2

SALT = "perfbench-salt"

STREETS = [
    "MAIN ST", "BROADWAY", "5TH AVE", "PARK AVE", "ATLANTIC AVE", "FLATBUSH AVE",
    "GRAND CONCOURSE", "QUEENS BLVD", "VICTORY BLVD", "AMSTERDAM AVE",
    "LEXINGTON AVE", "OCEAN PKWY", "JAMAICA AVE", "FORDHAM RD", "HYLAN BLVD",
]
CITIES = ["NEW YORK", "BROOKLYN", "BRONX", "QUEENS", "STATEN ISLAND"]
LIBRARY_CODES = ["mb", "bc", "sc", "ql", "hp", "none", ""]

T_BASE = dt.datetime(2021, 1, 1)
#: creation-watermark of the seeded state file: rows created before it were
#: processed by an earlier scheduled run
CREATION_DT = dt.datetime(2021, 1, 31)
DELETION_DT = dt.date(2021, 3, 1)
#: the frozen run timestamp passed to ``run_all_modes``
NOW = dt.datetime(2021, 6, 1)
ET = zoneinfo.ZoneInfo("America/New_York")
#: expected ``geoid`` of a row census attempt 1 leaves unmatched: the later
#: attempts must fill it with some 11-character geoid
LATER_ATTEMPT = "<attempt 2 or 3>"
ADDR = ("address", "city", "region", "postal_code")


def _h(s: str) -> str:
    """``sha2(concat(salt, s), 256)`` as Spark computes it (engine F2)."""
    return hashlib.sha256((SALT + s).encode("utf-8")).hexdigest()


def address_hash(pid: int, address, city, region, postal) -> str:
    """Engine F1+F2: ``concat_ws('_', id, addr, city, region, zip)`` hashed."""
    parts = [str(pid)] + [v or "" for v in (address, city, region, postal)]
    return _h("_".join(parts))


def patron_hash(pid: int) -> str:
    return _h(str(pid))


def census_attempt1(addr: dict) -> str | None:
    """What the injected census transport answers for attempt 1: the
    space-joined address (engine F4); null when there is no address."""
    import pandas as pd

    from engine.ops.geocode import fake_census_transport

    full = " ".join(addr[c] for c in ADDR if addr[c] is not None).strip()
    if not full:
        return None
    return fake_census_transport()(pd.DataFrame({"full_address": [full]}))[0]


def et_date(t: dt.datetime) -> str:
    """Engine F6: the UTC instant's calendar date in New York."""
    return t.replace(tzinfo=dt.timezone.utc).astimezone(ET).date().isoformat()


def _addresses(rng: np.random.Generator, n: int) -> dict[str, list]:
    house = rng.integers(1, 2500, n)
    street = rng.integers(0, len(STREETS), n)
    city = rng.integers(0, len(CITIES), n)
    zips = rng.integers(10001, 11698, n)
    plus4 = rng.random(n) < 0.2
    unit = rng.random(n) < 0.15
    out: dict[str, list] = {"address": [], "city": [], "region": [], "postal_code": []}
    for i in range(n):
        line = f"{house[i]} {STREETS[street[i]]}"
        if unit[i]:
            line += f" APT {int(house[i]) % 40 + 1}"
        out["address"].append(line)
        out["city"].append(CITIES[city[i]])
        out["region"].append("NY")
        z = f"{zips[i]:05d}"
        out["postal_code"].append(f"{z}-{int(house[i]) % 9000 + 1000}" if plus4[i] else z)
    return out


ACTIVE_SCHEMA = pa.schema(
    [
        ("patron_id_plaintext", pa.int64()),
        ("ptype_code", pa.int64()),
        ("pcode3", pa.int64()),
        ("patron_home_library_code", pa.string()),
        ("city", pa.string()),
        ("region", pa.string()),
        ("postal_code", pa.string()),
        ("address", pa.string()),
        ("circ_active_date_et", pa.date32()),
        ("deletion_date_et", pa.date32()),
        ("last_updated_timestamp", pa.timestamp("us", tz="UTC")),
        ("creation_timestamp", pa.timestamp("us", tz="UTC")),
    ]
)
DELETED_SCHEMA = pa.schema(
    [("patron_id_plaintext", pa.int64()), ("deletion_date_et", pa.date32())]
)
PATRON_INFO_SCHEMA = pa.schema(
    [
        ("patron_id", pa.string()),
        ("address_hash", pa.string()),
        ("postal_code", pa.string()),
        ("geoid", pa.string()),
        ("creation_date_et", pa.string()),
        ("circ_active_date_et", pa.string()),
        ("ptype_code", pa.int64()),
        ("pcode3", pa.int64()),
        ("patron_home_library_code", pa.string()),
        ("initial_patron_home_library_code", pa.string()),
    ]
)


def sierra_tables(seed: int, *, n_old: int, n_new: int, n_updated: int, n_deleted: int):
    """Build the three source tables and the expected-output facts.

    - ``n_old`` patrons were created before the seeded creation watermark;
      ``n_updated`` of them were updated after it, so UPDATED mode sees rows
      created earlier.  About half of those kept their address, so their
      address hash (same salt as the run) is in the memo-cache (J5 hit); the
      rest moved and miss.
    - ``n_new`` patrons were created after the watermark.  A few carry a
      second address row with the same id and timestamps (J4 duplicates),
      and one has every demographic column null.
    - ``n_deleted`` deletions fall after the deletion watermark on varying
      dates (a constant date would trip the ST5 stall guard); most are old
      warehouse patrons, some were also created or updated in this window and
      must not re-emit (ST4).  A few fall before the watermark.
    """
    rng = np.random.default_rng(seed)
    n_dup = max(2, n_new // 100)
    old_ids = np.arange(1, n_old + 1, dtype=np.int64) * 7 + 100_000
    new_ids = np.arange(1, n_new + 1, dtype=np.int64) * 7 + 900_000

    # creation times: old before the watermark, new after it, distinct seconds
    old_ct = np.sort(rng.choice(29 * 86400, n_old, replace=False))
    new_gaps = rng.integers(1, 240, n_new)
    new_ct = np.cumsum(new_gaps) + int((CREATION_DT - T_BASE).total_seconds())
    upd_idx = np.sort(rng.choice(n_old, n_updated, replace=False))
    upd_set = set(upd_idx.tolist())
    upd_start = int(new_ct[-1]) + 3600
    upd_t = upd_start + np.cumsum(rng.integers(1, 240, n_updated))
    old_lu = old_ct + rng.integers(0, 86400, n_old)
    old_lu[upd_idx] = upd_t
    moved = np.zeros(n_old, dtype=bool)
    moved[upd_idx] = rng.random(n_updated) < 0.5

    old_addr = _addresses(rng, n_old)
    cur_addr = _addresses(rng, n_old)  # used only where the patron moved
    new_addr = _addresses(rng, n_new)
    ptype = rng.integers(1, 12, n_old + n_new)
    pcode3 = rng.integers(1, 300, n_old + n_new)
    lib = rng.integers(0, len(LIBRARY_CODES), n_old + n_new)
    circ = rng.integers(0, 150, n_old + n_new)

    rows: dict[str, list] = {f.name: [] for f in ACTIVE_SCHEMA}
    #: patron hash -> the sink records the run may emit for it (a J4
    #: duplicate may keep either address row)
    expected: dict[str, list[dict]] = {}

    def record(pid, k, addr, ct, *, geoid, iphlc, null_demo=False):
        def demo(v):
            return None if null_demo else v

        return {
            "patron_id": patron_hash(int(pid)),
            "address_hash": address_hash(int(pid), *(addr[c] for c in ADDR)),
            "postal_code": None if addr["postal_code"] is None else addr["postal_code"][:5],
            "geoid": geoid,
            "creation_date_et": et_date(T_BASE + dt.timedelta(seconds=int(ct))),
            "deletion_date_et": None,
            "circ_active_date_et": demo(
                (T_BASE.date() + dt.timedelta(days=int(circ[k]))).isoformat()),
            "ptype_code": demo(int(ptype[k])),
            "pcode3": demo(int(pcode3[k])),
            "patron_home_library_code": demo(LIBRARY_CODES[lib[k]]),
            "initial_patron_home_library_code": iphlc,
        }

    def computed_geoid(addr):
        """Geocoded in this run: attempt 1's answer, else a later attempt's."""
        if all(addr[c] is None for c in ADDR):
            return None
        return census_attempt1(addr) or LATER_ATTEMPT

    def add(pid, k, addr, ct, lu, null_demo=False):
        rows["patron_id_plaintext"].append(int(pid))
        rows["ptype_code"].append(None if null_demo else int(ptype[k]))
        rows["pcode3"].append(None if null_demo else int(pcode3[k]))
        rows["patron_home_library_code"].append(
            None if null_demo else LIBRARY_CODES[lib[k]]
        )
        for c in ("city", "region", "postal_code", "address"):
            rows[c].append(None if null_demo else addr[c])
        rows["circ_active_date_et"].append(
            None if null_demo else T_BASE.date() + dt.timedelta(days=int(circ[k]))
        )
        rows["deletion_date_et"].append(None)
        rows["last_updated_timestamp"].append(T_BASE + dt.timedelta(seconds=int(lu)))
        rows["creation_timestamp"].append(T_BASE + dt.timedelta(seconds=int(ct)))

    def pick(addr, i):
        return {c: addr[c][i] for c in addr}

    def wh_geoid(pid):
        return f"36{int(pid) % 900:03d}{int(pid) % 1_000_000:06d}"

    def wh_iphlc(i):
        return LIBRARY_CODES[(lib[i] + 1) % 5]

    for i, pid in enumerate(old_ids):
        a = pick(cur_addr, i) if moved[i] else pick(old_addr, i)
        add(pid, i, a, old_ct[i], old_lu[i])
        if i in upd_set:
            # UPDATED: a kept address hits the memo-cache (J5: cached geoid and
            # initial home library); a moved patron is geocoded, and its
            # initial home library comes from the warehouse by id (J8)
            geoid = computed_geoid(a) if moved[i] else wh_geoid(pid)
            expected[patron_hash(int(pid))] = [
                record(pid, i, a, old_ct[i], geoid=geoid, iphlc=wh_iphlc(i))
            ]
    dup_of = set(rng.choice(n_new - 1, n_dup, replace=False).tolist())
    for i, pid in enumerate(new_ids):
        k = n_old + i
        null_demo = i == n_new - 1
        addrs = [pick(new_addr, i)]
        add(pid, k, addrs[0], new_ct[i], new_ct[i], null_demo=null_demo)
        if i in dup_of:  # J4: same patron record, second address row
            addrs.append(pick(_addresses(rng, 1), 0))
            add(pid, k, addrs[1], new_ct[i], new_ct[i])
        if null_demo:
            addrs = [{c: None for c in ADDR}]
        phlc = None if null_demo else LIBRARY_CODES[lib[k]]
        expected[patron_hash(int(pid))] = [
            record(pid, k, a, new_ct[i], null_demo=null_demo, geoid=computed_geoid(a), iphlc=phlc)
            for a in addrs
        ]
    # the source is not stored in ordering-column order
    perm = rng.permutation(len(rows["patron_id_plaintext"]))
    active = pa.table({c: [v[j] for j in perm] for c, v in rows.items()}, schema=ACTIVE_SCHEMA)

    # deletions: mostly old non-updated patrons, some created/updated this window
    not_upd = np.setdiff1d(np.arange(n_old), upd_idx)
    n_del_new = n_deleted // 10
    n_del_upd = n_deleted // 10
    n_del_old = n_deleted - n_del_new - n_del_upd
    del_ids = np.concatenate(
        [
            old_ids[rng.choice(not_upd, n_del_old, replace=False)],
            new_ids[rng.choice(n_new, n_del_new, replace=False)],
            old_ids[rng.choice(upd_idx, n_del_upd, replace=False)],
        ]
    )
    del_days = rng.integers(0, 61, n_deleted)
    early_ids = old_ids[rng.choice(not_upd, max(1, n_deleted // 20), replace=False)]
    early_days = -rng.integers(1, 30, len(early_ids))
    ids_all = np.concatenate([del_ids, early_ids])
    days_all = np.concatenate([del_days, early_days])
    perm = rng.permutation(len(ids_all))
    deleted = pa.table(
        {
            "patron_id_plaintext": ids_all[perm],
            "deletion_date_et": [DELETION_DT + dt.timedelta(days=int(d)) for d in days_all[perm]],
        },
        schema=DELETED_SCHEMA,
    )

    # warehouse memo-cache slice: every old patron, keyed by the address it had
    # when it was last written (same salt as the run, so J5 hits are real)
    info: dict[str, list] = {f.name: [] for f in PATRON_INFO_SCHEMA}
    for i, pid in enumerate(old_ids):
        a = pick(old_addr, i)
        info["patron_id"].append(patron_hash(int(pid)))
        info["address_hash"].append(
            address_hash(int(pid), a["address"], a["city"], a["region"], a["postal_code"])
        )
        info["postal_code"].append(a["postal_code"][:5])
        info["geoid"].append(wh_geoid(pid))
        info["creation_date_et"].append(
            (T_BASE + dt.timedelta(seconds=int(old_ct[i]))).date().isoformat()
        )
        info["circ_active_date_et"].append(
            (T_BASE.date() + dt.timedelta(days=int(circ[i]))).isoformat()
        )
        info["ptype_code"].append(int(ptype[i]))
        info["pcode3"].append(int(pcode3[i]))
        info["patron_home_library_code"].append(LIBRARY_CODES[lib[i]])
        info["initial_patron_home_library_code"].append(wh_iphlc(i))
    patron_info = pa.table(info, schema=PATRON_INFO_SCHEMA)

    # DELETED emits the warehouse record with the stream's deletion date (J6);
    # ids created or updated in this window were emitted already (ST4)
    row_of = {p: j for j, p in enumerate(info["patron_id"])}
    for pid, day in zip(del_ids[:n_del_old], del_days[:n_del_old]):
        w = {c: info[c][row_of[patron_hash(int(pid))]] for c in info}
        expected[w["patron_id"]] = [{
            "patron_id": w["patron_id"], "address_hash": w["address_hash"],
            "postal_code": w["postal_code"], "geoid": w["geoid"],
            "creation_date_et": w["creation_date_et"],
            "deletion_date_et": (DELETION_DT + dt.timedelta(days=int(day))).isoformat(),
            "circ_active_date_et": w["circ_active_date_et"],
            "ptype_code": w["ptype_code"], "pcode3": w["pcode3"],
            "patron_home_library_code": None,
            "initial_patron_home_library_code": w["initial_patron_home_library_code"],
        }]

    # every mode emits only ids no earlier scan of the run saw, so the emitted
    # set is the union of the three scanned id sets (ST4)
    emitted = set(new_ids.tolist()) | set(old_ids[upd_idx].tolist()) | set(del_ids.tolist())
    assert sorted(expected) == sorted(patron_hash(p) for p in emitted)
    facts = {
        "expected_records": expected,
        "watermarks": {
            "creation_dt": str(T_BASE + dt.timedelta(seconds=int(new_ct[-1]))),
            "update_dt": str(T_BASE + dt.timedelta(seconds=int(upd_t[-1]))),
            "deletion_date": str(DELETION_DT + dt.timedelta(days=int(del_days.max()))),
        },
        "initial_state": {
            "creation_dt": str(CREATION_DT),
            "update_dt": str(CREATION_DT),
            "deletion_date": str(DELETION_DT),
        },
    }
    return {"active": active, "deleted": deleted, "patron_info": patron_info}, facts


def _cached(out_dir: str, build) -> str:
    """Run ``build(tmp_dir)`` once per ``out_dir``; publish by atomic rename."""
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return out_dir
    tmp = out_dir + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write("ok\n")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return out_dir


def sierra_inputs(root: str, seed: int, **sizes) -> tuple[str, dict]:
    """Parquet sources + ``facts.json`` under ``root``, generated once per
    (seed, sizes)."""
    key = "-".join(f"{k}{v}" for k, v in sorted(sizes.items()))
    out = os.path.join(root, f"sierra-v{GEN_VERSION}-s{seed}-{key}")

    def build(tmp):
        tables, facts = sierra_tables(seed, **sizes)
        for name, tb in tables.items():
            pq.write_table(tb, os.path.join(tmp, f"{name}.parquet"))
        with open(os.path.join(tmp, "facts.json"), "w") as f:
            json.dump(facts, f)

    _cached(out, build)
    with open(os.path.join(out, "facts.json")) as f:
        return out, json.load(f)
