"""Event-driven tag workflows (reference extensions/
product_registration_pipeline/main.py:22-150 and extensions/
orchestration/dynamic_tag_update.py): a tag mutation whose field
matches a trigger predicate kicks off follow-on tagging jobs for the
same asset, then flips the originating tag's status field — the
reference's data-product registration flow (status PENDING triggers
standardization + sensitivity + resource tagging, then sets status to
REVIEW for the data steward).

The reference wires this as Cloud Audit Log -> Pub/Sub -> Cloud
Function -> four Tag Engine HTTP calls with polling. The Spark shape:
the tag history CDC stream IS the event bus. A foreachBatch consumer
filters each micro-batch to matching events (dimension-sized —
workflow triggers are human-paced registrations, not data-paced),
dedups delivery retries, and dispatches the follow-on configs as
ordinary distributed tagging jobs; nothing heavy runs inside the
stream. Delivery is at-least-once: a re-run batch re-triggers jobs
whose MERGE upstream is idempotent (SURVEY T4), and the status flip
rewrites the same value, so the tag state converges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .history import EVENT_DEDUP_KEYS


def match_events(
    events: DataFrame,
    field_id: str,
    field_value: str,
    actions: tuple[str, ...] = ("CREATE", "UPDATE"),
) -> DataFrame:
    """Trigger predicate over history rows (the reference Cloud
    Function's protoPayload field match, product_registration_pipeline/
    main.py:27-31) with retry dedup — works on streaming or static
    frames."""
    return events.filter(
        (F.col("field_id") == field_id)
        & (F.col("field_value") == field_value)
        & F.col("action").isin(list(actions))
    ).dropDuplicates(EVENT_DEDUP_KEYS)


def asset_uri_from_name(name: str) -> tuple[str, str | None]:
    """Invert the history row's singularized asset_name (engine.
    TagEngine.history / reference BigQueryUtils.py:123-128) back to
    (catalog asset_uri, column-or-None) — a column-level tag's event
    carries a /column/<c> suffix, and the workflow must flip the
    status on the SAME grain it fired from."""
    base, _, column = name.partition("/column/")
    uri = base.replace("/dataset/", "/datasets/").replace("/table/", "/tables/")
    return uri, (column or None)


def run_workflow_batch(
    engine,
    events: DataFrame,
    assets: DataFrame,
    *,
    trigger_field: str,
    trigger_value: str,
    follow_on_configs: list[str],
    status_value: str | None = None,
    status_type: str = "string",
) -> list[dict]:
    """One micro-batch (or a static history frame) of the registration
    workflow: per matched asset, trigger every follow-on config against
    the catalog scoped to that asset, then update the originating tag's
    trigger field to ``status_value`` (reference
    update_data_product_status, main.py:127-150). Returns one dict per
    dispatched asset: {asset_uri, template_id, job_uuids}."""
    if status_value == trigger_value:
        raise ValueError(
            "status_value must differ from trigger_value — flipping the "
            "status back to the trigger would re-fire the workflow on "
            "its own event"
        )
    matched = (
        match_events(events, trigger_field, trigger_value)
        .select("asset_name", "template_id")
        .distinct()
        .collect()
    )
    out: list[dict] = []
    for ev in matched:
        uri, column = asset_uri_from_name(ev["asset_name"])
        scoped = assets.filter(F.col("asset_uri") == uri)
        jobs = [engine.trigger_job(cfg, scoped) for cfg in follow_on_configs]
        if status_value is not None:
            # flip the ORIGINATING tag — same asset AND same column
            # grain the trigger event fired from; flipping only an
            # asset-level tag would leave a column-level trigger armed
            engine.update_tag_subset(
                ev["template_id"],
                uri,
                column,
                [
                    {
                        "field_id": trigger_field,
                        "field_type": status_type,
                        "raw_value": status_value,
                    }
                ],
            )
        out.append({"asset_uri": uri, "template_id": ev["template_id"], "job_uuids": jobs})
    return out


def workflow_trigger_stream(
    engine,
    history_stream: DataFrame,
    assets: DataFrame,
    checkpoint: str,
    trigger: dict | None = None,
    **workflow_kw,
):
    """Continuous form: consume the history stream and dispatch the
    workflow per micro-batch. The returned query's checkpoint gives
    exactly-once batch tracking; within a replayed batch the dispatched
    jobs are idempotent upstream (see module docstring).

    ``trigger`` chooses the trigger mode: the default
    {"availableNow": True} drains what exists and stops (catch-up /
    test runs); a long-running event-bus deployment passes e.g.
    {"processingTime": "30 seconds"} to keep consuming new events, and
    an explicit {} requests Spark's default ASAP micro-batch mode (no
    .trigger() call) — only None means "use the availableNow
    default"."""

    def _dispatch(batch: DataFrame, _epoch: int) -> None:
        run_workflow_batch(engine, batch, assets, **workflow_kw)

    writer = (
        history_stream.writeStream.foreachBatch(_dispatch)
        .option("checkpointLocation", checkpoint)
    )
    if trigger is None:
        trigger = {"availableNow": True}
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
