"""Benchmark entry point, run from the repository root:

    python3 dedupbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Prints one JSON object as the last line of standard output.
"""

import os
import sys
import time

if __name__ == "__main__":
    T0 = time.perf_counter()    # setup_s counts the imports below
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from dedupbench.harness import main
    sys.exit(main(sys.argv[1:], T0))
