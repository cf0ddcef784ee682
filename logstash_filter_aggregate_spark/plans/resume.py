"""Incremental resume: carry still-open maps across batch runs (the
analog of ``aggregate_maps_path`` persistence — maps Marshal-dumped at
close and reloaded at register, ``aggregate.rb:125-140,154-175``).

Run N writes its ``open`` bucket; run N+1 turns each open map into one
*seed row* injected into the event stream before sessionization:

- the seed's ``ts`` is the map's ``lastevent_ts``, so the inactivity-gap
  check against run N+1's first event falls out of the normal lag flag;
- ``_seed_creation_ts`` preserves the true map age for the absolute
  timeout (a map that aged out during the downtime expires immediately);
- ``_seed_<agg>`` columns carry the prior partial aggregates, merged by
  each fn's natural combiner in the scan (``correlate.session_values``);
- the seed's ``map_action`` is ``create_or_update``: it re-creates the
  map, so a duplicate ``start`` event in run N+1 is correctly ignored
  (``spec:268-307`` persistence round-trip behavior).

Invariant (tested): splitting a stream at any time boundary and running
resume(chunk2, open(chunk1)) yields exactly the same completed/timeout/
open outputs as one run over the full stream — per-sink counts and rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logstash_filter_aggregate_spark.config import ConfigurationError, PipelineConfig
from logstash_filter_aggregate_spark.operators.correlate import SEED_RULE, _merged_agg_specs


def seed_rows_from_open(open_maps: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Project an ``open`` bucket into seed rows in classified-row shape."""
    merged = _merged_agg_specs(cfg)
    missing = [n for n in merged if n not in open_maps.columns]
    if missing:
        raise ConfigurationError(
            f"open-maps input lacks aggregate columns {missing}; was it produced "
            "by the same PipelineConfig?"
        )
    cols = [
        F.col("task_id").alias("_task_id"),
        F.col("conv_id"),
        F.lit(-1).alias("turn_idx"),           # orders before any real row at the same ts
        F.col("lastevent_ts").alias("ts"),
        F.lit(SEED_RULE).alias("_rule_id"),
        F.lit(0).alias("_end_flag"),
        F.lit("create_or_update").alias("_action"),
        # the map's persisted effective overrides (O17 × O21: the
        # reference's map_meta survives aggregate_maps_path round-trips);
        # the seed has the session's minimum _ord, so the last-write-wins
        # override aggregation re-applies them before any new row's
        (
            F.col("map_custom_timeout") if "map_custom_timeout" in open_maps.columns
            else F.lit(None).cast("double")
        ).alias("_custom_timeout"),
        (
            F.col("map_custom_inactivity") if "map_custom_inactivity" in open_maps.columns
            else F.lit(None).cast("double")
        ).alias("_custom_inactivity"),
        F.col("creation_ts").alias("_seed_creation_ts"),
        F.col("lastevent_ts").alias("_seed_lastevent_ts"),
        F.col("nevents").alias("_seed_nevents"),
        *[F.col(n).alias(f"_seed_{n}") for n, (fn, _) in merged.items() if fn != "avg"],
    ]
    for n, (fn, _) in merged.items():
        if fn == "avg":
            # avg merges via its sum/count partials (the open bucket
            # carries them — correlate.session_agg_fields), never the bare avg
            cols.append(F.col(f"_avg_sum_{n}").alias(f"_seed__avg_sum_{n}"))
            cols.append(F.col(f"_avg_cnt_{n}").alias(f"_seed__avg_cnt_{n}"))
    return open_maps.select(*cols)


def inject_seeds(classified: DataFrame, open_maps: DataFrame | None, cfg: PipelineConfig) -> DataFrame:
    if open_maps is None:
        return classified
    seeds = seed_rows_from_open(open_maps, cfg)
    return classified.unionByName(seeds, allowMissingColumns=True)
