"""``python -m etl_wlg_metlink_spark`` with the benchmark's probes on.

    python traced_cli.py OUT.json --schedule LANDING --checkpoint CKPT ...

Runs the package's own CLI ``main`` unchanged, after wrapping the public
functions it calls (session build, pipeline run, GeoJSON submit, the
envelope stream runner) in spans. Each ``geojson.submit`` call runs
under its own job group, so the Spark work of every micro-batch can be
told apart. When ``main`` returns, the spans, per-micro-batch Spark work
and every streaming progress event are written to ``OUT.json``.
"""

from __future__ import annotations

import json
import sys

import probes


def main() -> int:
    out_path, argv = sys.argv[1], sys.argv[2:]

    from etl_wlg_metlink_spark import session
    from etl_wlg_metlink_spark.__main__ import main as cli_main
    from etl_wlg_metlink_spark.pipelines import metlink
    from etl_wlg_metlink_spark.sinks import geojson
    from etl_wlg_metlink_spark.streaming import runners

    spans, progress, state = probes.Spans(), probes.ProgressLog(), {"spark": None, "batch": 0}
    spans.wrap(session, "build_session")
    spans.wrap(metlink, "run")
    submit = spans.wrap(geojson, "submit")
    stream = spans.wrap(runners, "metlink_envelope_stream")

    def grouped_submit(features, poster, counters=None):
        sc = features.sparkSession.sparkContext
        previous = sc.getLocalProperty(probes.JOB_GROUP)
        sc.setLocalProperty(probes.JOB_GROUP, f"batch-{state['batch']}")
        state["batch"] += 1
        try:
            return submit(features, poster, counters)
        finally:
            sc.setLocalProperty(probes.JOB_GROUP, previous)

    def listened_stream(spark, *args, **kwargs):
        state["spark"] = spark
        progress.attach(spark)
        return stream(spark, *args, **kwargs)

    geojson.submit = grouped_submit
    runners.metlink_envelope_stream = listened_stream

    rc = cli_main(argv)

    spark = state["spark"]
    work = {}
    if spark is not None:
        progress.detach(spark)
        work = probes.spark_work(
            spark, lambda _job, group: group if group and group.startswith("batch-") else None
        )
    with open(out_path, "w", encoding="utf-8") as f:
        json.dump({"spans": spans.spans, "progress": progress.events, "batches": work}, f)
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
