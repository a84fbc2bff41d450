"""Checker self-test: every output check must pass a right output and
complain about a deliberately corrupted one.

    python3 clinbench/selftest.py

Needs no Spark: the outputs are written here with pyarrow, in the layout
the pipeline writes (parquet part files, month-partitioned provenance).
Exits 1 if any check accepts a corrupted output or rejects a right one.
"""

from __future__ import annotations

import os
import random
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import env  # noqa: E402


def _write(path: str, columns: dict) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(columns), os.path.join(path, "part-0.parquet"))
    return path


def cases(work: str):
    """Yield (name, check result on the right output, on the corrupted)."""
    import check
    import gen

    book = gen.write_hospital_a(os.path.join(work, "in"), random.Random(5),
                                2, 50, 7)
    ids = book.valid_ids
    qlm = {c: [None] * len(ids) for c in gen.QLM_COLUMNS}
    qlm["patient_id"] = ids
    qlm["patient_name"] = ["[REDACTED_NAME]"] * len(ids)
    qlm["note_text"] = ["Attended. Contact: [REDACTED_PHONE]"] * len(ids)

    def qlm_dir(tag, **over):
        return _write(os.path.join(work, tag), {**qlm, **over})

    good = qlm_dir("qlm-good")
    yield ("patient ids: a dropped valid record",
           check.qlm_ids(good, ids, "good"),
           check.qlm_ids(qlm_dir("qlm-drop", patient_id=ids[:-1] + [None]),
                         ids, "bad"))
    yield ("patient ids: a quarantined record let through",
           [],
           check.qlm_ids(_write(os.path.join(work, "qlm-extra"),
                                {"patient_id": ids + ["P99999999"]}),
                         ids, "bad"))
    leak = list(qlm["note_text"])
    some = sorted(book.phi["ssn"])[0]
    leak[3] = f"Attended. SSN {some}"
    yield ("redaction: an SSN left in free text",
           check.no_phi(good, book.phi, gen.FIRST, gen.LAST, "good"),
           check.no_phi(qlm_dir("qlm-ssn", note_text=leak), book.phi,
                        gen.FIRST, gen.LAST, "bad"))
    names = list(qlm["patient_name"])
    names[0] = sorted(book.phi["name"])[0]
    yield ("redaction: a patient name left in its column",
           [],
           check.no_phi(qlm_dir("qlm-name", patient_name=names), book.phi,
                        gen.FIRST, gen.LAST, "bad"))

    n_bad = book.n_invalid
    q_good = _write(os.path.join(work, "q-good"),
                    {"patient_id": ["x"] * n_bad})
    q_bad = _write(os.path.join(work, "q-bad"),
                   {"patient_id": ["x"] * (n_bad - 1)})
    yield ("quarantine: a dropped quarantined row",
           check.quarantine_rows(q_good, n_bad, "good"),
           check.quarantine_rows(q_bad, n_bad, "bad"))

    def prov(tag, rows):
        cols = ("raw_file_path", "status", "total_rows", "error_details",
                "source_name")
        return _write(
            os.path.join(work, tag, "provenance_batch", "p_month=2025-01"),
            {c: [r[i] for r in rows] for i, c in enumerate(cols)})

    right = [(f"file:/x/{f}", "COMPLETED", b["input"],
              f"{b['invalid']} rows quarantined" if b["invalid"] else None,
              "hospital_a") for f, b in book.files.items()]
    wrong = [right[0], (right[1][0], "COMPLETED", right[1][2] - 1,
                        right[1][3], "hospital_a")]
    prov(os.path.join("p-good"), right)
    prov(os.path.join("p-bad"), wrong)
    yield ("provenance: valid plus quarantined short of the input",
           check.bulk_provenance(os.path.join(work, "p-good"), "hospital_a",
                                 book.files, "good"),
           check.bulk_provenance(os.path.join(work, "p-bad"), "hospital_a",
                                 book.files, "bad"))

    f0 = sorted(book.files)[0]
    api_books = {f: {"source": "hospital_a", "status": "COMPLETED",
                     "total_rows": b["input"]} for f, b in book.files.items()}
    ok = {"batch_id": "b0", "status": "COMPLETED",
          "total_rows": book.files[f0]["input"], "raw_file_path": f"/x/{f0}",
          "source_name": "hospital_a"}
    yield ("lineage API: a wrong status",
           check.api_answers([("batch", ("b0", f0), ok)], api_books, 5),
           check.api_answers([("batch", ("b0", f0),
                               {**ok, "status": "FAILED_VALIDATION"})],
                             api_books, 5))
    yield ("lineage API: latest(1) answering two batches of one source",
           check.api_answers([("latest", (), [ok])], api_books, 1),
           check.api_answers([("latest", (), [ok, ok])], api_books, 1))

    plan = gen.publish_plan(3, 200, 2, 40, 10)
    states = gen.book_states(plan)
    final = list(states[-1].values())
    upd = next(k for k in states[1] if states[1][k] != states[0].get(k)
               and k in states[0] and k in states[-1])
    stale = [states[0][upd] if r[0] == upd else r for r in final]
    yield ("snapshot: a stale row that lost its upsert",
           check.table_state(final, states[-1], "good"),
           check.table_state(stale, states[-1], "bad"))
    resurrected = final + [states[0][plan.delete_keys[0]]] \
        if plan.delete_keys[0] in states[0] else final + [final[0]]
    yield ("snapshot: a deleted key still present",
           [],
           check.table_state(resurrected, states[-1], "bad"))

    def feed(before, after):
        out = [("delete", k) for k in before if k not in after]
        out += [("insert", k) for k in after if k not in before]
        out += [(t, k) for k in after if k in before
                and after[k] != before[k]
                for t in ("update_preimage", "update_postimage")]
        return out

    right_feed = feed(states[0], states[-1])
    dropped = [c for c in right_feed if c[0] != "delete"]
    yield ("change feed: a dropped delete",
           check.change_feed(right_feed, states[0], states[-1], "good"),
           check.change_feed(dropped, states[0], states[-1], "bad"))


def main() -> int:
    work = env.prepare()
    failures = 0
    try:
        for name, on_right, on_corrupt in cases(work):
            ok = not on_right and bool(on_corrupt)
            failures += not ok
            print(f"{'ok  ' if ok else 'FAIL'} {name}: right output "
                  f"{'accepted' if not on_right else on_right}; corrupted "
                  f"output {'rejected' if on_corrupt else 'ACCEPTED'}")
    finally:
        env.cleanup(work)
    print(f"{failures} checker(s) failed the self-test")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
