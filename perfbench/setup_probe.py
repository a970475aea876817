"""One set-up sample: start a session, load the query registry, print
the seconds since this process started, and stop the session and its
JVM.  ``run.py`` runs it as a child process for its extra set-up
samples; it can also be run by hand from the repository root:

    python3 perfbench/setup_probe.py
"""

from __future__ import annotations

import run


def main() -> None:
    run.engine_env()
    from cars_bids_data_pipeline_v0__spark.plans.queries import queries

    run.start_session()
    queries()
    age = run._process_age()
    run.stop_spark()
    print(f"{age:.6f}")


if __name__ == "__main__":
    main()
