"""Seeded generator of pipe-delimited ingest batches plus their ground truth.

Writes two dated batches of the tables a ``cli report`` name reads: the
first batch holds every table, the second (the nightly upsert) the four
fact tables.
The raw values exercise the cleaning code: padded whitespace, the
``NULL``/``None``/``nan`` sentinels, mojibake, all-null rows, rows
missing their primary key, keys duplicated within the second batch and
one latin-1 file. Alongside the files it returns the ground truth the
benchmark checks loads and reports against, computed from a plain-Python
model of the cleaning rules (trim, mojibake repair, sentinel to NULL,
required-key filter, keep-last upsert by line).

Pure standard library; the same seed gives the same bytes.
"""

from __future__ import annotations

import hashlib
import os
import random
from collections import Counter

# rows per table in the first batch; the second batch is about half that
BASE_ROWS = {
    "people": 1200,
    "employees": 150,
    "cases": 1800,
    "referrals": 1800,
    "assistance_requests": 900,
    "resource_lists": 400,
    "resource_list_shares": 800,
}
PK = {
    "people": "person_id",
    "employees": "employee_id",
    "cases": "case_id",
    "referrals": "referral_id",
    "assistance_requests": "assistance_request_id",
    "resource_lists": "id",
    "resource_list_shares": "id",
}
# tables whose loader drops rows lacking the key (config.REQUIRED_FIELDS)
REQUIRED_KEY_TABLES = ("people", "cases", "referrals")
BATCH_DATES = ("20240301", "20240315")
# the nightly upsert batch carries the four fact tables; the reference
# tables (employees, resource lists and shares) arrive with the first batch
UPSERT_TABLES = ("people", "cases", "referrals", "assistance_requests")
LATIN1_FILE = ("people", 0)  # (table, batch) written as latin-1
PHI_SALT = "calaveras-spark-salt"

FIRST = ["John", "Jane", "Ana", "Luis", "Mei", "Omar", "Grace", "Ivan", "Zoe", "Ravi"]
FIRST_LATIN1 = ["José", "Zoë", "Mónica", "Renée", "Günter", "Françoise"]
LAST = ["Doe", "Smith", "Lee", "García", "Nguyen", "Patel", "Kim", "Brown", "Ortiz"]
CASE_STATUS = ["open", "managed", "processed", "closed", "off_platform"]
REFERRAL_STATUS = ["sent", "accepted", "declined", "completed", "recalled", "pending"]
SERVICE = ["Housing", "Food", "Employment", "Health", "Transportation",
           "Legal", "Utilities", "Education", "Benefits", "Mental Health",
           "Clothing", "Child Care"]
SUBTYPE = ["Emergency", "Long-term", "Referral only", "Follow-up"]
# a mojibake provider name repairs to the apostrophe form
PROVIDERS = ["Harbor Clinic", "Valley Food Bank", "Sierra Legal Aid",
             "Mother Lode Shelter", "Foothill Works", "County Health",
             "Aunt Bettyâ€™s Pantry"]
PROGRAMS = ["Rapid Rehousing", "CalFresh Outreach", "Job Ready", "Care Connect",
            "Legal Clinic", "Bridge Housing"]
NETWORKS = ["Calaveras Network", "Gold Country Network", "Sierra Network"]
OUTCOMES = ["resolved", "unresolved", "referred", "withdrawn"]
GENDER = ["male", "female", "nonbinary", "undisclosed"]
RACE = ["white", "black", "asian", "native", "pacific", "undisclosed", ""]
LANG = ["en", "es", "zh", "vi", "tl"]
CITIES = ["San Andreas", "Angels Camp", "Murphys", "Valley Springs", "Arnold"]
COUNTIES = ["Calaveras", "Amador", "Tuolumne"]
METHODS = ["email", "sms", "print", "link"]
MIL = ["veteran", "active", "guard", "none"]
HOUSING = ["housed", "at risk", "homeless", "shelter"]
SENTINELS = ["NULL", "None", "nan", "null", ""]
MOJIBAKE = (("â€™", "'"), ("â€œ", '"'), ("â€\x9d", '"'), ("â€", '"'))


def _ts(rng: random.Random, y0: int = 2023, y1: int = 2024) -> str:
    return (f"{rng.randint(y0, y1)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d} "
            f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}")


def _date(rng: random.Random, y0: int, y1: int) -> str:
    return f"{rng.randint(y0, y1)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"


def _row(table: str, rng: random.Random, key: str, ids: dict, latin1: bool) -> dict:
    """One raw row of ``table`` as strings, before any dirtying."""
    pick = rng.choice
    if table == "people":
        names = FIRST_LATIN1 + FIRST if latin1 else FIRST
        created = _ts(rng)
        return {
            "person_id": key, "first_name": pick(names), "middle_name": pick(["", "A", "M"]),
            "last_name": pick(LAST), "preferred_name": pick(names),
            "person_consent_status": pick(["accepted", "pending", "declined"]),
            "date_of_birth": _date(rng, 1940, 2015), "gender": pick(GENDER),
            "sexuality": pick(["straight", "gay", "bisexual", "undisclosed"]),
            "race": pick(RACE), "ethnicity": pick(["hispanic", "not hispanic", "undisclosed"]),
            "marital_status": pick(["single", "married", "divorced", ""]),
            "preferred_language": pick(LANG), "communication_preference": pick(["phone", "email", "text"]),
            "gross_monthly_income": pick(["0", str(rng.randint(1, 999)), str(rng.randint(1000, 2499)),
                                          str(rng.randint(2500, 4999)), str(rng.randint(5000, 9000)), "n/a"]),
            "household_size": str(rng.randint(1, 8)), "number_of_adults": str(rng.randint(1, 4)),
            "number_of_children": str(rng.randint(0, 4)), "ssn": f"{rng.randint(100, 999)}-{rng.randint(10, 99)}-{rng.randint(1000, 9999)}",
            "medicaid_id": pick(["", f"MC{rng.randint(10000, 99999)}"]),
            "medicare_id": pick(["", f"MR{rng.randint(10000, 99999)}"]),
            "address_line_1": f"{rng.randint(1, 999)} Main St", "city": pick(CITIES),
            "county": pick(COUNTIES), "state": "CA", "postal_code": str(rng.randint(95200, 95299)),
            "people_created_at": created, "people_updated_at": created,
        }
    if table == "employees":
        return {
            "employee_id": key, "employee_first_name": pick(FIRST), "employee_last_name": pick(LAST),
            "employee_email": f"{key.lower()}@example.org", "provider_name": pick(PROVIDERS),
            "network_name": pick(NETWORKS), "employee_status": pick(["active", "inactive"]),
            "employee_created_at": _ts(rng, 2020, 2023),
        }
    if table == "cases":
        created = _ts(rng)
        closed = pick(["", _ts(rng, 2024, 2024)])
        return {
            "case_id": key, "person_id": pick(ids["people"]), "case_status": pick(CASE_STATUS),
            "case_created_at": created, "case_updated_at": _ts(rng), "case_opened_at": created,
            "case_closed_at": closed, "service_type": pick(SERVICE), "service_subtype": pick(SUBTYPE),
            "provider_name": pick(PROVIDERS), "program_name": pick(PROGRAMS),
            "network_name": pick(NETWORKS), "primary_worker_id": pick(ids["employees"]),
            "outcome": pick(OUTCOMES), "outcome_notes": pick(["", "client moved", "follow-up set"]),
            "is_sensitive": pick(["true", "false"]),
        }
    if table == "referrals":
        created = _ts(rng)
        return {
            "referral_id": key, "person_id": pick(ids["people"]), "case_id": pick(ids["cases"]),
            "referral_status": pick(REFERRAL_STATUS), "referral_created_at": created,
            "referral_updated_at": _ts(rng), "sent_at": created,
            "accepted_at": pick(["", _ts(rng, 2024, 2024)]), "declined_at": pick(["", _ts(rng, 2024, 2024)]),
            "recalled_at": "", "completed_at": pick(["", _ts(rng, 2024, 2024)]),
            "service_type": pick(SERVICE), "sending_network_name": pick(NETWORKS),
            "sending_provider_name": pick(PROVIDERS), "sending_program_name": pick(PROGRAMS),
            "receiving_network_name": pick(NETWORKS), "receiving_provider_name": pick(PROVIDERS),
            "receiving_program_name": pick(PROGRAMS),
        }
    if table == "assistance_requests":
        return {
            "assistance_request_id": key, "case_id": pick(ids["cases"]), "person_id": pick(ids["people"]),
            "service_type": pick(SERVICE), "provider_name": pick(PROVIDERS),
            "created_at": _ts(rng), "updated_at": _ts(rng), "person_first_name": pick(FIRST),
            "person_last_name": pick(LAST), "person_ssn": f"{rng.randint(100, 999)}-00-{rng.randint(1000, 9999)}",
            "person_gender": pick(GENDER), "person_race": pick(RACE), "housing_current_status": pick(HOUSING),
            "employment_status": pick(["employed", "unemployed", "retired"]),
            "education_status": pick(["high school", "college", "none"]),
            "household_size": str(rng.randint(1, 8)), "mil_is_veteran": pick(["true", "false"]),
            "mil_active_duty": pick(["true", "false"]), "mil_affiliation": pick(MIL),
            "mil_branch": pick(["army", "navy", "air force", "marines", ""]),
            "mil_service_start_date": _date(rng, 1970, 2020), "city": pick(CITIES),
            "county": pick(COUNTIES), "state": "CA",
        }
    if table == "resource_lists":
        return {
            "id": key, "person_id": pick(ids["people"]), "provider_name": pick(PROVIDERS),
            "program_name": pick(PROGRAMS), "service_type": pick(SERVICE), "created_at": _ts(rng),
        }
    if table == "resource_list_shares":
        return {
            "id": key, "resource_list_id": pick(ids["resource_lists"]), "person_id": pick(ids["people"]),
            "shared_by_employee_id": pick(ids["employees"]), "shared_to": pick(["client", "provider"]),
            "share_method": pick(METHODS + [""]), "share_language": pick(LANG), "created_at": _ts(rng),
        }
    raise KeyError(table)


def clean_value(raw: str | None) -> str | None:
    """Model of read sentinels + trim + mojibake repair + sentinel to NULL."""
    if raw is None or raw in ("", "NULL", "null", "None"):
        return None
    v = raw.strip()
    if "â€" in v:
        for bad, good in MOJIBAKE:
            v = v.replace(bad, good)
        v = v.strip()
    if v == "" or v.lower() in ("nan", "null", "none"):
        return None
    return v


def _dirty(rng: random.Random, col: str, value: str, pk: str) -> str:
    """Padding on about 1 in 6 values, a sentinel on about 1 in 25 non-key values."""
    if col != pk and rng.random() < 0.04:
        return rng.choice(SENTINELS)
    if rng.random() < 0.16:
        return " " * rng.randint(1, 3) + value + " " * rng.randint(0, 2)
    return value


def salted_sha256(value: str, salt: str = PHI_SALT) -> str:
    return hashlib.sha256((salt + value + salt).encode("utf-8")).hexdigest()


def _write(path: str, columns: list[str], rows: list[list[str]], encoding: str) -> None:
    lines = ["|".join(columns)] + ["|".join(r) for r in rows]
    with open(path, "wb") as f:
        f.write(("\n".join(lines) + "\n").encode(encoding))


def generate(out_dir: str, seed: int, scale: float = 1.0, tables: tuple[str, ...] = tuple(BASE_ROWS)) -> dict:
    """Write ``out_dir/batch1`` and ``out_dir/batch2`` for ``tables``; return ground truth.

    Truth keys: ``files`` (per file: table, batch, input rows, expected
    inserted/updated, dropped rows), ``rows`` (per table row count after
    each batch), ``final`` (per batch, per table, the cleaned rows keyed
    by raw primary key), ``phi_probe`` (a raw person id and its hash),
    ``input_bytes`` and ``input_rows`` per batch.
    """
    rng = random.Random(seed)
    ids: dict[str, list[str]] = {}
    prefix = {t: "".join(w[0] for w in t.split("_")).upper() for t in BASE_ROWS}
    # keys of every table, so foreign keys resolve even for tables not written
    for t in BASE_ROWS:
        n = max(4, int(BASE_ROWS[t] * scale))
        ids[t] = [f"{prefix[t]}{seed % 1000:03d}-{i:06d}" for i in range(n)]
    state: dict[str, dict[str, dict]] = {t: {} for t in tables}
    truth: dict = {"files": {}, "rows": {}, "final": {}, "input_bytes": {}, "input_rows": {}}
    for b, date in enumerate(BATCH_DATES):
        bdir = os.path.join(out_dir, f"batch{b + 1}")
        os.makedirs(bdir, exist_ok=True)
        nbytes = nrows = 0
        for t in (tables if b == 0 else [t for t in UPSERT_TABLES if t in tables]):
            pk = PK[t]
            latin1 = (t, b) == LATIN1_FILE
            if b == 0:
                keys = list(ids[t])
            else:
                # about half old keys (updates), half new ones (inserts)
                half = max(2, len(ids[t]) // 2)
                old = rng.sample(ids[t], half // 2 + 1)
                new = [f"{prefix[t]}{seed % 1000:03d}-{len(ids[t]) + i:06d}" for i in range(half // 2)]
                keys = old + new
                # duplicated within the batch: the later line must win
                keys += rng.sample(keys, max(1, len(keys) // 20))
                rng.shuffle(keys)
            raws = [_row(t, rng, k, ids, latin1) for k in keys]
            columns = list(raws[0])
            lines: list[list[str]] = []
            for r in raws:
                lines.append([_dirty(rng, c, r[c], pk) for c in columns])
            # all-null rows: the cleaning step drops them from every table
            for _ in range(3):
                lines.insert(rng.randrange(len(lines) + 1), [rng.choice(SENTINELS) for _ in columns])
            dropped = 3
            if t in REQUIRED_KEY_TABLES:
                # rows missing only their key: the required-key filter drops them
                for _ in range(3):
                    r = _row(t, rng, "", ids, latin1)
                    r[pk] = rng.choice(SENTINELS)
                    lines.insert(rng.randrange(len(lines) + 1), [r[c] for c in columns])
                dropped = 6
            if latin1:
                # the encoding probe must see a non-UTF-8 byte early in the file
                lines[0][columns.index("first_name")] = "José"
            fname = f"CHHSCA_{t}_{date}.txt"
            path = os.path.join(bdir, fname)
            _write(path, columns, lines, "latin-1" if latin1 else "utf-8")
            nbytes += os.path.getsize(path)
            nrows += len(lines)
            # expected effect of the load on the table model
            batch: dict[str, dict] = {}
            for line in lines:
                row = {c: clean_value(v) for c, v in zip(columns, line)}
                if row[pk] is None:
                    continue
                batch[row[pk]] = row  # keep-last by line order
            before = state[t]
            updated = sum(1 for k in batch if k in before) if b else 0
            state[t] = {**before, **batch}
            truth["files"][fname] = {
                "table": t, "batch": b + 1, "input_rows": len(lines), "dropped": dropped,
                "inserted": len(batch) - updated, "updated": updated,
            }
            if b == 0:
                ids[t] = keys
            else:
                ids[t] = sorted(set(ids[t]) | set(keys))
        truth["input_bytes"][b + 1] = nbytes
        truth["input_rows"][b + 1] = nrows
        truth["rows"][b + 1] = {t: len(state[t]) for t in tables}
        truth["final"][b + 1] = {t: dict(state[t]) for t in tables}
    if "people" in tables:
        probe = sorted(state["people"])[0]
        truth["phi_probe"] = {"raw": probe, "hash": salted_sha256(probe)}
    return truth


def expected_reports(tables: dict[str, dict[str, dict]]) -> dict[str, object]:
    """Rows the predicted report calls must return, from the row model of
    ``people``, ``cases`` and ``referrals``; keys are the call ids of the
    report battery in ``run.py``."""
    def count(rows, col, default=None):
        return Counter(r[col] if r[col] is not None else default for r in rows)

    people = list(tables["people"].values())
    cases = list(tables["cases"].values())
    referrals = list(tables["referrals"].values())
    out: dict[str, object] = {}
    for t, rows, col in (("cases", cases, "case_status"), ("referrals", referrals, "referral_status")):
        c = count(rows, col, "Unknown")
        out[f"status_distribution:{t}"] = sorted(([k, v] for k, v in c.items()), key=lambda kv: (-kv[1], kv[0]))
    svc = Counter(r["service_type"] for r in cases if r["service_type"] is not None)
    out["top_service_types:cases"] = sorted(([k, v] for k, v in svc.items()), key=lambda kv: (-kv[1], kv[0]))[:10]
    open_svc = Counter(r["service_type"] for r in cases
                       if r["service_type"] is not None and r["case_status"] == "open")
    out["top_service_types:cases:open"] = sorted(([k, v] for k, v in open_svc.items()),
                                                 key=lambda kv: (-kv[1], kv[0]))[:10]
    months = Counter(r["case_created_at"][:7] for r in cases if r["case_created_at"] is not None)
    out["timeline:cases:month"] = sorted([k, v] for k, v in months.items())
    inc = Counter()
    for r in people:
        try:
            x = float(r["gross_monthly_income"]) if r["gross_monthly_income"] is not None else 0.0
        except ValueError:
            x = 0.0
        inc[1 if x <= 0 else 2 if x < 1000 else 3 if x < 2500 else 4 if x < 5000 else 5] += 1
    labels = {1: "No Income", 2: "$1-999", 3: "$1,000-2,499", 4: "$2,500-4,999", 5: "$5,000+"}
    out["income_distribution"] = [[labels[k], k, inc[k]] for k in sorted(inc)]
    return out
