"""Evidence freshness: print the head of ``__spark_entry__.queries()``
(stalest correctness evidence first) with each name's newest green
round, so a sweep can re-verify the queries checked longest ago:

    python tools/staleness.py [N]                 # list the N stalest (default 25)
    python tools/staleness.py [N] | tail -n +3 | awk '{print $1}' \
        | xargs python tools/verify_contract.py   # sweep them

The ranking is ``__spark_entry__.evidence_rounds`` over the committed
``CORRECTNESS_rNN.json`` artifacts; round 0 means no green row yet.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    import __spark_entry__ as E

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 25
    order = list(E.queries())
    rounds = E.evidence_rounds(order)
    never = [q for q in order if rounds[q] == 0]
    print(f"# {len(order)} registered; {len(never)} with no green row"
          + (f": {', '.join(never)}" if never else ""))
    print("# name latest_driver_round")
    for q in order[:n]:
        print(f"{q} r{rounds[q]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
