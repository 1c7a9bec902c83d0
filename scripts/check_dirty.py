"""Dirty-since-certification gate (r09 verdict item 1).

Standing rule: any query whose Spark fn source or oracle SQL changes
after its last green driver row must re-enter the NEXT driver window.

Mechanism: ``cert_fingerprints.json`` (repo root) snapshots
sha256(fn source + oracle SQL) for every registered query as of the
code the round driver last ran. This script recomputes the
fingerprints from the working tree and fails unless every DRIFTED
certified query (fingerprint differs from the snapshot) is listed in
``registry.RECERTIFY`` AND present in ``registry.DRIVER_WINDOW``.

Coverage note: the fn fingerprint is ``inspect.getsource(fn)`` — edits
to a SHARED Spark-side helper (e.g. dedup._lsh_band_table) are not
captured and still need a manual RECERTIFY entry from the round-close
diff review. Oracle-side helpers ARE captured (the registered oracle
is the fully-materialized SQL string). Docstring-only edits count as
drift — conservatively re-certify. The fingerprint does not depend on
the module a query fn lives in, so moving a fn verbatim to another
module needs no RECERTIFY entry.

Usage:
    python scripts/check_dirty.py            # gate (exit 1 on violation)
    python scripts/check_dirty.py --snapshot # rewrite the snapshot from
                                             # the working tree (round
                                             # close, final-commit step)
"""

from __future__ import annotations

import glob
import hashlib
import inspect
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
SNAPSHOT = os.path.join(REPO, "cert_fingerprints.json")


def fingerprint(q) -> str:
    try:
        src = inspect.getsource(q.fn)
    except (OSError, TypeError):  # dynamically-generated fn
        src = q.fn.__name__ + (q.fn.__doc__ or "")
    body = src + "\n---oracle---\n" + (q.oracle or "<rows-only>")
    return hashlib.sha256(body.encode("utf-8")).hexdigest()


def certified_names() -> set[str]:
    out: set[str] = set()
    for f in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        with open(f) as fh:
            d = json.load(fh)
        for k, v in d.items():
            if (
                isinstance(v, dict)
                and v.get("rows_match")
                and v.get("schema_match")
                and v.get("hash_match")
            ):
                out.add(k)
    return out


def main() -> int:
    from big_data_audio_classification_spark.registry import (
        DRIVER_WINDOW,
        RECERTIFY,
        all_queries,
    )

    qs = all_queries()
    current = {n: fingerprint(q) for n, q in qs.items()}

    if "--snapshot" in sys.argv:
        payload = {
            "note": (
                "sha256(fn source + oracle SQL) per registered query, as "
                "of the code the round driver ran; see "
                "scripts/check_dirty.py"
            ),
            "fingerprints": current,
        }
        with open(SNAPSHOT, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
        print(f"snapshot written: {len(current)} fingerprints -> {SNAPSHOT}")
        return 0

    if not os.path.exists(SNAPSHOT):
        print("no cert_fingerprints.json snapshot; run --snapshot first")
        return 1
    with open(SNAPSHOT) as fh:
        snap = json.load(fh)["fingerprints"]

    cert = certified_names()
    drifted = sorted(
        n
        for n in cert
        if n in current and snap.get(n) not in (None, current[n])
    )
    violations = []
    for n in drifted:
        if n not in RECERTIFY:
            violations.append(f"{n}: drifted since certification, not in RECERTIFY")
        elif n not in DRIVER_WINDOW:
            violations.append(f"{n}: in RECERTIFY but not in DRIVER_WINDOW")
    for n in RECERTIFY:
        if n not in DRIVER_WINDOW:
            violations.append(f"{n}: RECERTIFY entry missing from DRIVER_WINDOW")

    print(f"certified: {len(cert)}  drifted: {len(drifted)} {drifted}")
    if violations:
        print("DIRTY-RULE VIOLATIONS:")
        for v in violations:
            print(" ", v)
        return 1
    print("dirty-rule OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
