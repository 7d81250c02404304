"""spark-submit entry point — thin shim over the packaged CLI.

Deploy form (north rule; ``./package.sh`` builds the zip, which is not
kept in git):
    ./package.sh && spark-submit --py-files dist/ceef_spark.zip jobs/run_evaluation.py --...
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cardinality_estimation_evaluation_framework_spark.cli import main

if __name__ == "__main__":
    raise SystemExit(main())
