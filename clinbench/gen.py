"""Seeded input generators and their books (the expected answers).

The clinical sources follow the shape of the reference generator
(``data_insert.py``): hospital_a CSV files of 5,000 rows, clinic_b JSONL
files of 5,000 records with blank and invalid-JSON lines, and HL7 v2 files
of 200 messages. PHI sits in names, SSNs, DOBs, phones, emails and street
addresses. A small planted share of records is invalid so the quarantine
path runs. Every generator returns, next to the files it wrote, a book of
what the pipeline must produce, computed here and never by the program.

All randomness comes from ``random.Random(seed)``: the same seed writes the
same bytes.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

FIRST = (
    "Maria", "James", "Aisha", "Rajesh", "Emily", "Chen", "Olga", "Samuel",
    "Fatima", "Lucas", "Priya", "Daniel", "Yuki", "Grace", "Omar", "Sofia",
    "Noah", "Amara", "Ivan", "Leila", "Mateo", "Hannah", "Kwame", "Elena",
)
LAST = (
    "Gonzalez", "Smith", "Khan", "Kumar", "Clark", "Wei", "Petrova",
    "Okafor", "Haddad", "Silva", "Patel", "Novak", "Tanaka", "Mensah",
    "Rossi", "Schmidt", "Nguyen", "Moreau", "Ibrahim", "Larsen",
)
STREETS = ("Evergreen Terrace", "Main St", "Oak Avenue", "Maple Drive",
           "Harbor Road", "Cedar Lane", "Hillside Blvd", "Park Place")
DIAGNOSES = ("Hypertension", "Type 2 diabetes", "Asthma", "Migraine",
             "Back pain", "Influenza", "GERD", "Anemia")
ICD = ("J10", "E11", "M54", "I10", "G43", "K21")
COMPLAINTS = ("cough", "fever", "headache", "fatigue", "chest pain",
              "dizziness")

SOURCES = ("hospital_a", "clinic_b", "hospital_c_hl7")


@dataclass
class SourceBook:
    """Expected outcome of ingesting one source directory."""

    source: str
    files: dict[str, dict] = field(default_factory=dict)
    # file name -> {"input": n, "invalid": n, "valid_ids": [...]} ;
    # "input" counts records the source reader yields (blank lines are
    # not records; an invalid-JSON line is one).
    phi: dict[str, set[str]] = field(default_factory=dict)
    # kind -> PHI strings written into this source's files

    @property
    def valid_ids(self) -> list[str]:
        return [i for f in self.files.values() for i in f["valid_ids"]]

    @property
    def n_input(self) -> int:
        return sum(f["input"] for f in self.files.values())

    @property
    def n_invalid(self) -> int:
        return sum(f["invalid"] for f in self.files.values())


class _Person:
    __slots__ = ("first", "last", "ssn", "phone", "dob_iso", "dob_compact",
                 "email", "address")

    def __init__(self, rng: random.Random):
        # one draw per person, split into its fields (generation is part
        # of set-up, and 210k persons are drawn per run)
        x = rng.getrandbits(128)

        def take(n: int) -> int:
            nonlocal x
            x, r = divmod(x, n)
            return r

        self.first, self.last = FIRST[take(len(FIRST))], LAST[take(len(LAST))]
        self.ssn = f"{100 + take(800)}-{10 + take(90)}-{1000 + take(9000)}"
        self.phone = (f"{200 + take(790)}-{200 + take(790)}-"
                      f"{1000 + take(9000)}")
        y, m, d = 1940 + take(65), 1 + take(12), 1 + take(28)
        self.dob_iso = f"{y:04d}-{m:02d}-{d:02d}"
        self.dob_compact = f"{y:04d}{m:02d}{d:02d}"
        self.email = (f"{self.first.lower()}.{self.last.lower()}"
                      f"{1 + take(999)}@mail.example.org")
        self.address = f"{1 + take(9999)} {STREETS[take(len(STREETS))]}"

    @property
    def name(self) -> str:
        return f"{self.first} {self.last}"

    def record_phi(self, book: SourceBook, *kinds: str) -> None:
        values = {"name": self.name, "ssn": self.ssn, "phone": self.phone,
                  "email": self.email, "dob": self.dob_iso,
                  "dob_compact": self.dob_compact}
        for k in kinds:
            book.phi.setdefault(k, set()).add(values[k])


def _visit(rng: random.Random) -> str:
    return f"2025-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"


def write_hospital_a(out_dir: str, rng: random.Random, n_files: int,
                     rows: int, bad_every: int) -> SourceBook:
    """CSV with header; invalid rows carry an unparseable ``dob`` or an
    empty ``patient_id`` (null_not_allowed / type_mismatch)."""
    import csv
    import io

    os.makedirs(out_dir, exist_ok=True)
    book = SourceBook("hospital_a")
    pid = 10000
    for f_i in range(n_files):
        name = f"2025-01-{f_i + 1:02d}_clinical.csv"
        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        w.writerow(["patient_id", "patient_name", "ssn", "dob",
                    "visit_date", "diagnosis", "notes"])
        valid, invalid = [], 0
        for r in range(rows):
            p = _Person(rng)
            pid += 1
            diag = rng.choice(DIAGNOSES)
            notes = (f"Attended for {diag}. Contact: {p.phone}, "
                     f"{p.email}; SSN {p.ssn}. Lives at {p.address}")
            bad = bad_every and r % bad_every == bad_every - 1
            if bad and r % 2:
                row = ["", p.name, p.ssn, p.dob_iso, _visit(rng), diag, notes]
            elif bad:
                row = [f"P{pid}", p.name, p.ssn, "31/31/31", _visit(rng),
                       diag, notes]
            else:
                row = [f"P{pid}", p.name, p.ssn, p.dob_iso, _visit(rng),
                       diag, notes]
                valid.append(f"P{pid}")
            invalid += bool(bad)
            w.writerow(row)
            p.record_phi(book, "name", "ssn", "phone", "email", "dob")
        with open(os.path.join(out_dir, name), "w") as fh:
            fh.write(buf.getvalue())
        book.files[name] = {"input": rows, "invalid": invalid,
                            "valid_ids": valid}
    return book


def write_clinic_b(out_dir: str, rng: random.Random, n_files: int,
                   rows: int, bad_every: int) -> SourceBook:
    """JSONL; each file also holds two blank lines (skipped by the reader,
    not records) and one invalid-JSON line (a record that quarantines).
    Other invalid records carry an unparseable ``date_of_birth``."""
    os.makedirs(out_dir, exist_ok=True)
    book = SourceBook("clinic_b")
    cid = 20000
    for f_i in range(n_files):
        name = f"clinic_b_{f_i:03d}.jsonl"
        lines, valid, invalid = [], [], 0
        for r in range(rows):
            p = _Person(rng)
            cid += 1
            bad = bad_every and r % bad_every == bad_every - 1
            rec = {
                "id": f"C{cid}",
                "name": p.name,
                "date_of_birth": "45/45/1980" if bad else p.dob_iso,
                "encounter": _visit(rng),
                "icd": rng.choice(ICD),
                "free_text": (f"Complained of {rng.choice(COMPLAINTS)}. "
                              f"Email: {p.email} Phone {p.phone}"),
            }
            if bad:
                invalid += 1
            else:
                valid.append(f"C{cid}")
            lines.append(json.dumps(rec))
            p.record_phi(book, "name", "phone", "email", "dob")
        lines.insert(rows // 3, "")
        lines.insert(2 * rows // 3, "")
        lines.insert(rows // 2, '{"id": "C-broken", "name": "unterminated')
        with open(os.path.join(out_dir, name), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        book.files[name] = {"input": rows + 1, "invalid": invalid + 1,
                            "valid_ids": valid}
    return book


def write_hl7(out_dir: str, rng: random.Random, n_files: int, rows: int,
              bad_every: int) -> SourceBook:
    """HL7 v2 ORU messages (MSH, PID, OBR, OBX) separated by blank lines.
    Like the reference generator, the SSN sits at PID-15 for most
    messages and at PID-17 for every fifth. Invalid messages lack their
    PID segment."""
    os.makedirs(out_dir, exist_ok=True)
    book = SourceBook("hospital_c_hl7")
    mid = 30000
    for f_i in range(n_files):
        name = f"hl7_{f_i:03d}.hl7"
        msgs, valid, invalid = [], [], 0
        for r in range(rows):
            p = _Person(rng)
            mid += 1
            bad = bad_every and r % bad_every == bad_every - 1
            fields = [""] * 18
            fields[0], fields[1], fields[3] = "PID", "1", str(mid)
            fields[5] = f'"{p.name}"'
            fields[7], fields[8], fields[11] = p.dob_compact, "F", p.address
            fields[13] = p.phone
            fields[17 if r % 5 == 0 else 15] = p.ssn
            segs = [
                f"MSH|^~\\&|HOSPITAL_C|LAB|QLM_SYS|DEST|"
                f"2025020{1 + r % 9}0{r % 10}0137||ORU^R01|MSG{mid}|P|2.3",
                *([] if bad else ["|".join(fields)]),
                f"OBR|1||{mid}|TEST^TESTNAME",
                f"OBX|1|ST|RESULT||{rng.randint(50, 250)}|units||N",
            ]
            msgs.append("\n".join(segs))
            if bad:
                invalid += 1
            else:
                valid.append(str(mid))
            p.record_phi(book, "name", "ssn", "phone", "dob_compact")
        with open(os.path.join(out_dir, name), "w") as fh:
            fh.write("\n\n".join(msgs) + "\n")
        book.files[name] = {"input": rows, "invalid": invalid,
                            "valid_ids": valid}
    return book


WRITERS = {"hospital_a": write_hospital_a, "clinic_b": write_clinic_b,
           "hospital_c_hl7": write_hl7}


def write_sources(root: str, seed: int, sizes: dict[str, tuple[int, int]],
                  bad_every: int) -> dict[str, SourceBook]:
    """One directory per source under ``root``; sizes maps source ->
    (files, records per file)."""
    rng = random.Random(seed)
    return {
        s: WRITERS[s](os.path.join(root, s), rng, *sizes[s], bad_every)
        for s in SOURCES
    }


def write_name_in_notes_probe(out_dir: str) -> SourceBook:
    """A fixed hospital_a file (independent of the seed) whose free-text
    notes name the patient, as the reference generator's notes do
    ("Patient <name> attended for ..."). The scrub rules have no name
    pattern and ``notes`` is not a PHI column, so every valid row here
    leaks its patient's name into the QLM output."""
    import csv

    os.makedirs(out_dir, exist_ok=True)
    book = SourceBook("hospital_a")
    rng = random.Random(0)
    name = "2025-06-01_clinical.csv"
    ids = []
    with open(os.path.join(out_dir, name), "w", newline="") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(["patient_id", "patient_name", "ssn", "dob",
                    "visit_date", "diagnosis", "notes"])
        for r in range(20):
            p = _Person(rng)
            diag = rng.choice(DIAGNOSES)
            w.writerow([f"N{r}", p.name, p.ssn, p.dob_iso, _visit(rng), diag,
                        f"Patient {p.name} attended for {diag}."])
            ids.append(f"N{r}")
            p.record_phi(book, "name", "ssn", "dob")
    book.files[name] = {"input": 20, "invalid": 0, "valid_ids": ids}
    return book


# ---------------------------------------------------------------- publish

QLM_COLUMNS = ("patient_id", "patient_name", "dob", "visit_date",
               "diagnosis", "note_text", "address", "ssn", "source")


def qlm_row(rng: random.Random, key: int, used: dict[int, set]) -> tuple:
    """One canonical (scrubbed) QLM row. ``visit_date`` is the precombine
    field; no key gets the same visit date twice, so which row wins an
    upsert never rests on a tie."""
    while True:
        day = rng.randint(0, 3000)
        if day not in used.setdefault(key, set()):
            used[key].add(day)
            break
    return (
        f"P{key:07d}", "[REDACTED_NAME]", "[REDACTED_DATE]",
        f"{2018 + day // 336}-{1 + day % 336 // 28:02d}-{1 + day % 28:02d}",
        rng.choice(DIAGNOSES),
        f"visit {day} note {rng.randint(0, 10**6)}",
        None, None, rng.choice(SOURCES),
    )


@dataclass
class PublishPlan:
    """A fixed commit sequence for one table: create, upserts, delete."""

    create: list[tuple]
    upserts: list[list[tuple]]
    delete_keys: list[str]


def publish_plan(seed: int, base_rows: int, upserts: int, upsert_rows: int,
                 delete_rows: int) -> PublishPlan:
    """Upsert batches overlap the table's keys by half (updates) and add
    new keys for the other half (inserts). Within a batch a few keys
    repeat with different precombine values, so the batch dedup runs;
    some updates carry an OLDER precombine value and must lose."""
    rng = random.Random(seed * 7919 + 1)
    used: dict[int, set] = {}
    create = [qlm_row(rng, k, used) for k in range(base_rows)]
    next_key = base_rows
    batches = []
    for u in range(upserts):
        rows = []
        n_upd = upsert_rows // 2
        for k in rng.sample(range(next_key), n_upd):
            rows.append(qlm_row(rng, k, used))
        for _ in range(upsert_rows - n_upd - 10):
            rows.append(qlm_row(rng, next_key, used))
            next_key += 1
        for r in rng.sample(rows, 10):  # in-batch duplicate keys
            rows.append(qlm_row(rng, int(r[0][1:]), used))
        batches.append(rows)
    dels = [f"P{k:07d}" for k in rng.sample(range(next_key), delete_rows)]
    return PublishPlan(create, batches, dels)


def book_states(plan: PublishPlan) -> list[dict[str, tuple]]:
    """Latest-per-key state after each commit, in plain Python: the row
    with the larger precombine value (``visit_date``) wins and deleted
    keys are absent."""
    vi = QLM_COLUMNS.index("visit_date")
    states = []
    cur: dict[str, tuple] = {}

    def apply(rows):
        for r in rows:
            old = cur.get(r[0])
            if old is None or r[vi] >= old[vi]:
                cur[r[0]] = r

    apply(plan.create)
    states.append(dict(cur))
    for b in plan.upserts:
        # the batch is deduplicated first (greatest precombine), then
        # merged against the table
        best: dict[str, tuple] = {}
        for r in b:
            o = best.get(r[0])
            if o is None or r[vi] >= o[vi]:
                best[r[0]] = r
        apply(best.values())
        states.append(dict(cur))
    for k in plan.delete_keys:
        cur.pop(k, None)
    states.append(dict(cur))
    return states
