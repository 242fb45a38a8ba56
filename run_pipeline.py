#!/usr/bin/env python3
"""spark-submit entry point for the KG construction pipeline.

``spark-submit`` executes a FILE, not a module, and
``ta2_minmod_kg_spark/plans/pipeline.py`` uses package-relative imports —
so this root-level shim gives the packaged module a submittable path
(the shape BASELINE.json's north rule names: ``spark-submit --py-files``
on a multi-executor cluster):

    python -m zipfile -c /tmp/ta2_minmod_kg_spark.zip ta2_minmod_kg_spark
    spark-submit --master local[32] \\
        --conf spark.driver.defaultJavaOptions=-XX:TieredStopAtLevel=1 \\
        --py-files /tmp/ta2_minmod_kg_spark.zip \\
        run_pipeline.py --n-sites 100000 --workdir /tmp/kg

The ``--conf`` line keeps the driver JVM C1-only, as ``session.get_spark``
does: spark-submit starts that JVM before ``get_spark`` runs, so the
builder's setting comes too late there.

On a real cluster, swap ``--master`` for the cluster manager URL; the
pipeline itself is agnostic (it takes the session from
``session.get_spark`` which respects an externally-configured master).
All CLI flags are forwarded verbatim to
``ta2_minmod_kg_spark.plans.pipeline.main``.
"""

from ta2_minmod_kg_spark.plans.pipeline import main

if __name__ == "__main__":
    main()
