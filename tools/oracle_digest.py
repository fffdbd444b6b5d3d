"""Print the contract's query order and a digest of every oracle string.

Output is JSON: ``queries`` lists ``queries()`` keys in order, and
``oracle_sql`` maps each ``oracle_sql()`` key (in its own order) to the
sha256 of its text. No Spark session is started, so two checkouts can
be compared in seconds:

    python tools/oracle_digest.py > a.json   # in each checkout
    diff a.json b.json
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod


def main() -> int:
    digests = {
        name: hashlib.sha256(text.encode()).hexdigest()
        for name, text in entrymod.oracle_sql().items()
    }
    out = {"queries": list(entrymod.queries()), "oracle_sql": digests}
    json.dump(out, sys.stdout, indent=1)
    sys.stdout.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
