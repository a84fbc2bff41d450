"""Output checks, made apart from the program.

Lake outputs are read with DuckDB, never Spark, and compared with the
generator's books (``gen.py``), ``hashlib`` digests or a property of the
method (row conservation, redaction, latest-per-key). Every check returns a
list of complaints; an empty list means the output is right.
``selftest.py`` feeds each check a corrupted output and requires a
complaint.
"""

from __future__ import annotations

import collections
import glob
import os
import re

PHI_PATTERNS = {
    # candidate spans a PHI value could occupy inside any QLM cell
    "ssn": r"\d{3}-\d{2}-\d{4}",
    "phone": r"\d{3}-\d{3}-\d{4}",
    "dob": r"\d{4}-\d{2}-\d{2}",
    "dob_compact": r"\d{8}",
    "email": r"[\w.+-]+@[\w-]+\.[\w.-]+",
}


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads=2")
    return con


def _parquet(path: str) -> str:
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"),
                             recursive=True))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return "[" + ", ".join(f"'{f}'" for f in files) + "]"


def _missing(path: str, what: str) -> list[str]:
    return [] if glob.glob(os.path.join(path, "**", "*.parquet"),
                           recursive=True) else [f"{what}: no output at {path}"]


def qlm_ids(qlm_dir: str, expected: list[str], label: str) -> list[str]:
    """The patient_id multiset of the QLM output equals the generator's
    valid records."""
    if (m := _missing(qlm_dir, label)):
        return m
    con = _duck()
    got = collections.Counter(
        r[0] for r in con.execute(
            f"SELECT patient_id FROM read_parquet({_parquet(qlm_dir)})"
        ).fetchall()
    )
    want = collections.Counter(expected)
    if got == want:
        return []
    extra, lost = got - want, want - got
    return [f"{label}: QLM patient_id multiset differs from the books: "
            f"{sum(extra.values())} unexpected (e.g. {list(extra)[:3]}), "
            f"{sum(lost.values())} missing (e.g. {list(lost)[:3]})"]


def quarantine_rows(q_dir: str, expected: int, label: str) -> list[str]:
    if expected == 0:
        return []
    if (m := _missing(q_dir, label + " quarantine")):
        return m
    (n,) = _duck().execute(
        f"SELECT count(*) FROM read_parquet({_parquet(q_dir)})"
    ).fetchone()
    return [] if n == expected else [
        f"{label}: {n} quarantined rows, the books say {expected}"]


def bulk_provenance(prov_dir: str, source: str, files: dict[str, dict],
                    label: str) -> list[str]:
    """One COMPLETED batch row per input file, whose total_rows is the
    file's input records and whose quarantined count is the file's invalid
    records, so valid plus quarantined equals input per file."""
    path = os.path.join(prov_dir, "provenance_batch")
    if (m := _missing(path, label + " provenance")):
        return m
    rows = _duck().execute(
        "SELECT raw_file_path, status, total_rows, error_details "
        f"FROM read_parquet({_parquet(path)}) WHERE source_name = ?",
        [source],
    ).fetchall()
    out = []
    seen = collections.Counter(os.path.basename(r[0]) for r in rows)
    if set(seen) != set(files) or any(v != 1 for v in seen.values()):
        out.append(f"{label}: provenance rows per file {dict(seen)} do not "
                   f"match the {len(files)} input files once each")
    for path_, status, total, err in rows:
        book = files.get(os.path.basename(path_))
        if book is None:
            continue
        bad = int(re.match(r"(\d+)", err).group(1)) if err else 0
        if status != "COMPLETED" or total != book["input"] \
                or bad != book["invalid"]:
            out.append(
                f"{label}: {os.path.basename(path_)} recorded {status} "
                f"total={total} quarantined={bad}; the books say "
                f"input={book['input']} invalid={book['invalid']}")
    return out


def no_phi(qlm_dir: str, phi: dict[str, set[str]], first_names, last_names,
           label: str) -> list[str]:
    """No generated PHI value (name, SSN, phone, email, DOB) appears in any
    column of the QLM output. Candidate spans are pulled from every cell by
    shape, then looked up in the set of values the generator wrote."""
    if (m := _missing(qlm_dir, label)):
        return m
    import pyarrow as pa

    con = _duck()
    values = sorted(set().union(*phi.values()))
    con.register("phi", pa.table({"v": values}))
    shapes = dict(PHI_PATTERNS)
    shapes["name"] = (r"(?:" + "|".join(first_names) + r")\s+(?:"
                      + "|".join(last_names) + r")")
    cols = [r[0] for r in con.execute(
        f"DESCRIBE SELECT * FROM read_parquet({_parquet(qlm_dir)})"
    ).fetchall()]
    cells = " || ' | ' || ".join(
        f"coalesce(CAST({c} AS VARCHAR), '')" for c in cols)
    union = " UNION ALL ".join(
        f"SELECT unnest(regexp_extract_all(t, '{p}')) AS v FROM cells"
        for p in shapes.values())
    leaks = con.execute(
        f"WITH cells AS (SELECT {cells} AS t FROM "
        f"read_parquet({_parquet(qlm_dir)})), cand AS ({union}) "
        "SELECT v, count(*) FROM cand SEMI JOIN phi USING (v) "
        "GROUP BY v ORDER BY 2 DESC, 1 LIMIT 5"
    ).fetchall()
    if not leaks:
        return []
    (n,) = con.execute(
        f"WITH cells AS (SELECT {cells} AS t FROM "
        f"read_parquet({_parquet(qlm_dir)})), cand AS ({union}) "
        "SELECT count(*) FROM cand SEMI JOIN phi USING (v)").fetchone()
    return [f"{label}: {n} generated PHI values left in the QLM output, "
            f"e.g. {[v for v, _ in leaks]}"]


def api_answers(calls: list[tuple[str, tuple, object]],
                books: dict[str, dict], latest_n: int) -> list[str]:
    """Lineage API answers against the books. ``books`` maps an input file
    name to {"source", "status", "total_rows"}; ``calls`` holds (endpoint,
    args, answer), where batch and lineage args are (batch_id, file name).
    ``latest(n)`` answers at most n batches per source."""
    out = []

    def fname(row):
        return os.path.basename(row["raw_file_path"] or "")

    for endpoint, args, ans in calls:
        if endpoint in ("batch", "lineage"):
            bid, name = args
            b = books[name]
            want = (bid, b["status"], b["total_rows"])
            got = ans and (ans["batch_id"], ans["status"], ans["total_rows"])
            if got != want or (endpoint == "batch" and fname(ans) != name):
                out.append(f"{endpoint}({bid}) answered {got}, the books "
                           f"say {want} for {name}")
        elif endpoint == "search":
            status, source = args  # source None: every source
            want = {f for f, b in books.items() if b["status"] == status
                    and source in (None, b["source"])}
            got = [fname(r) for r in ans
                   if source in (None, r["source_name"])]
            if sorted(got) != sorted(want):
                out.append(f"search{args} answered {len(got)} batches, the "
                           f"books say {len(want)}")
        elif endpoint == "latest":
            per_source = collections.Counter(r["source_name"] for r in ans)
            if any(n > latest_n for n in per_source.values()):
                out.append(f"latest({latest_n}) answered {dict(per_source)}")
            if set(per_source) != {b["source"] for b in books.values()}:
                out.append(f"latest({latest_n}) covered sources "
                           f"{sorted(per_source)}")
            unknown = [fname(r) for r in ans if fname(r) not in books]
            if unknown:
                out.append(f"latest({latest_n}) answered unknown files "
                           f"{unknown[:3]}")
        else:
            out.append(f"no check for endpoint {endpoint!r}")
    return out


# ------------------------------------------------------------- publish

def table_state(rows: list[tuple], want: dict[str, tuple],
                label: str) -> list[str]:
    """A snapshot or as-of read equals the latest-per-key book state: the
    larger precombine value won and deleted keys are absent."""
    got = collections.Counter(rows)
    exp = collections.Counter(want.values())
    if got == exp:
        return []
    extra, lost = got - exp, exp - got
    return [f"{label}: read differs from the book state: "
            f"{sum(extra.values())} rows not in the books (e.g. "
            f"{[r[0] for r in list(extra)[:3]]}), {sum(lost.values())} "
            f"book rows missing (e.g. {[r[0] for r in list(lost)[:3]]})"]


INSERT_TYPES = {"insert", "update_postimage"}
DELETE_TYPES = {"delete", "update_preimage"}


def change_feed(changes: list[tuple[str, str]], before: dict[str, tuple],
                after: dict[str, tuple], label: str) -> list[str]:
    """The change feed's net effect per key equals the difference of the
    two book states: inserts minus deletes is +1 for a key that appeared,
    -1 for one that vanished and 0 otherwise, so rows(to) = rows(from) +
    inserts - deletes."""
    net = collections.Counter()
    for ctype, key in changes:
        if ctype in INSERT_TYPES:
            net[key] += 1
        elif ctype in DELETE_TYPES:
            net[key] -= 1
        else:
            return [f"{label}: unknown change type {ctype!r}"]
    want = collections.Counter()
    for k in set(before) | set(after):
        want[k] = (k in after) - (k in before)
    bad = [k for k in set(net) | set(want) if net[k] != want[k]]
    if not bad:
        return []
    return [f"{label}: net change differs from the book states for "
            f"{len(bad)} keys (e.g. {sorted(bad)[:3]}); feed net "
            f"{sum(net.values())}, books {len(after) - len(before)}"]
