"""Inference scheduler on Structured Streaming (SURVEY ST1-ST8).

The reference's scheduler is a remote cron micro-batch engine
(scheduler.py): every ``DataUploadFrequency`` it wakes, looks for one CSV
per component named ``{component}{delim}{strftime(slot)}.csv``
(scheduler.py:139-170, 196-209), waits up to ``DataDelayOffsetInMinutes``
for late files (scheduler.py:355-357), keeps only rows whose event time
falls in ``[slot_start, slot_start + freq - 1s]`` (docs/userguide.rst:
222-224), scores the batch, and writes one JSON-lines result file.

Spark mapping:
- ST1 tumbling processing-time trigger  -> ``trigger(processingTime=...)``
  (tests use ``availableNow`` for determinism);
- ST2 slot discovery by file name       -> file source + parse component /
  slot out of ``input_file_name()``;
- ST3 late-data allowance               -> ``withWatermark`` on event time
  (late rows beyond the allowance are dropped by the slot filter);
- ST4 in-file event-time filter         -> ``ts BETWEEN slot AND slot_end``;
- ST5 per-batch scoring                 -> ``foreachBatch(score_fn -> json)``;
- ST6 execution audit                   -> per-batch rows appended to an
  executions log (status SUCCESS / FAILED, slot, counts);
- ST7 lifecycle                         -> create/start/stop/delete with
  status strings matching the reference enum;
- ST8 replay generator                  -> batch job: shift history to
  'now', chunk by frequency, emit slot CSVs, record empty slots.
"""

from __future__ import annotations

import glob
import html as _html
import os
import re
import shutil
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .._persist import note_persist as _note_persist
from ..functions.datetime_utils import (
    iso8601_duration_to_seconds,
    parse_tz_offset_minutes,
)

#: reference file-name timestamp formats (scheduler.py:146-151)
FILENAME_TS_FORMATS = {
    "yyyyMMddHHmmss": "%Y%m%d%H%M%S",
    "yyyy-MM-dd-HH-mm-ss": "%Y-%m-%d-%H-%M-%S",
    "EPOCH": "EPOCH",
}

#: anchored slot-stamp regex per format, so a delimiter that also appears
#: inside the timestamp (e.g. '-' with yyyy-MM-dd-HH-mm-ss) or inside a
#: component name can never mis-split the file name
_SLOT_STAMP_RE = {
    "yyyyMMddHHmmss": r"\d{14}",
    "yyyy-MM-dd-HH-mm-ss": r"\d{4}-\d{2}-\d{2}-\d{2}-\d{2}-\d{2}",
    "EPOCH": r"\d+",
}


# --- slot math (pure, unit-tested; reference scheduler.py:153-164) ----------


def slot_bounds_for(ts: datetime, frequency_minutes: int) -> tuple[datetime, datetime]:
    """Floor ``ts`` to the frequency; end = start + freq - 1s."""
    start = ts - timedelta(
        minutes=ts.minute % frequency_minutes,
        seconds=ts.second,
        microseconds=ts.microsecond,
    )
    return start, start + timedelta(minutes=frequency_minutes, seconds=-1)


def next_wakeup(now: datetime, frequency_minutes: int) -> datetime:
    """First slot boundary strictly after ``now`` (reference
    scheduler.py:153-162)."""
    start, _ = slot_bounds_for(now, frequency_minutes)
    return start + timedelta(minutes=frequency_minutes)


def format_slot(slot: datetime, fmt: str = "yyyyMMddHHmmss") -> str:
    strf = FILENAME_TS_FORMATS[fmt]
    if strf == "EPOCH":
        # naive slots are UTC wall time everywhere in this engine; a bare
        # .timestamp() would shift the epoch by the driver's UTC offset
        from datetime import timezone

        if slot.tzinfo is None:
            slot = slot.replace(tzinfo=timezone.utc)
        return str(int(slot.timestamp()))
    return slot.strftime(strf)


def expected_filenames(
    components: list[str],
    slot: datetime,
    delimiter: str = "_",
    fmt: str = "yyyyMMddHHmmss",
) -> list[str]:
    """ST2 — the exact file set the scheduler looks for at a wakeup
    (reference scheduler.py:196-209 report)."""
    stamp = format_slot(slot, fmt)
    return [f"{c}{delimiter}{stamp}.csv" for c in sorted(components)]


# --- config + lifecycle ------------------------------------------------------


@dataclass
class SchedulerConfig:
    """Mirror of create_inference_scheduler_request (scheduler.py:314-406)."""

    scheduler_name: str
    input_dir: str
    output_dir: str
    components: list[str]
    tags: list[str]  # sensor columns (excluding Timestamp)
    frequency: str = "PT5M"  # ST1; {PT5M, PT10M, PT15M, PT30M, PT1H}
    #: ST3: how long after a slot boundary the scheduler waits before a
    #: missing component file becomes a FAILED execution (reference
    #: DataDelayOffsetInMinutes, scheduler.py:355-357, 187-189).  Files
    #: that land even later are STILL scored (appended with a catch-up
    #: SUCCESS row) — strictly more permissive than the reference's
    #: give-up, but the FAILED signal fires at the same moment.
    delay_offset_minutes: int = 0
    timezone_offset: str = "+00:00"
    delimiter: str = "_"
    filename_ts_format: str = "yyyyMMddHHmmss"
    #: per-component sensor columns (reference file contract is per
    #: component, scheduler.py:196-209; schema.py per-component fields).
    #: None -> every component shares ``tags``.  Keys must be components;
    #: values may include "Timestamp" first (ignored) for schema parity.
    component_columns: dict[str, list[str]] | None = None

    status: str = field(default="NOT_CREATED", init=False)

    @property
    def all_tags(self) -> list[str]:
        """Ordered union of every component's sensor columns — components
        not keyed in ``component_columns`` contribute their ``tags``
        fallback, so a partial dict still covers every expected file."""
        if not self.component_columns:
            return list(self.tags)
        seen: list[str] = []
        for comp in sorted(set(self.components) | set(self.component_columns)):
            for c in self.columns_for(comp):
                if c != "Timestamp" and c not in seen:
                    seen.append(c)
        return seen

    def columns_for(self, component: str) -> list[str]:
        """Sensor columns (no Timestamp) for one component."""
        if self.component_columns and component in self.component_columns:
            return [
                c for c in self.component_columns[component] if c != "Timestamp"
            ]
        return list(self.tags)

    @property
    def frequency_minutes(self) -> int:
        allowed = {"PT5M", "PT10M", "PT15M", "PT30M", "PT1H"}
        if self.frequency not in allowed:
            raise ValueError(
                f"frequency must be one of {sorted(allowed)}, got {self.frequency}"
            )
        return iso8601_duration_to_seconds(self.frequency) // 60


EXECUTION_SCHEMA = (
    "scheduler string, slot_start timestamp, slot_end timestamp, "
    "status string, n_input bigint, n_scored bigint, output string"
)


class InferenceScheduler:
    """ST7 lifecycle around a Structured Streaming query."""

    def __init__(
        self,
        spark: SparkSession,
        config: SchedulerConfig,
        score_fn,
        now_fn=None,
    ):
        """``score_fn(batch_wide_df) -> DataFrame`` with columns
        (timestamp, prediction, anomaly_score, diagnostics).  ``now_fn``
        injects the wall clock for the ST3 due-slot audit (tests)."""
        from datetime import timezone

        self.spark = spark
        self.config = config
        self.score_fn = score_fn
        # naive slots are UTC wall time everywhere in this engine, so the
        # audit clock must be UTC too — a local datetime.now() on a UTC+k
        # driver would declare slots due k hours early (or late)
        self.now_fn = now_fn or (
            lambda: datetime.now(timezone.utc).replace(tzinfo=None)
        )
        self.query = None
        self._executions: list[tuple] = []
        #: ST3 bookkeeping: slot stamp -> (slot_start, components arrived)
        self._arrived: dict[str, tuple[datetime, set]] = {}
        #: slots whose expected-vs-arrived diff has been audited (a missing
        #: file is recorded FAILED exactly once); seeded from the durable
        #: audit log so a restarted scheduler never double-records
        self._audited_slots: set[str] = set()
        self._seed_audited_slots()

    def _seed_audited_slots(self) -> None:
        """Re-learn audited slots from the durable log so a restarted
        scheduler neither double-records a missing-file FAILED row nor
        (worse) re-audits an already-SCORED slot as fully missing — after
        a restart ``_arrived`` is empty, so without seeding the SUCCESS
        stamps a grid audit (``since=...``) would see every past slot as
        file-less.  Trade-off, documented: a slot that was scored
        partially (SUCCESS) before the restart is considered audited, so
        a missing-component FAILED row it hadn't earned yet is not
        recorded after the restart (the audit rows don't carry per-
        component arrivals)."""
        import json as _json

        path = self._audit_path()
        if not os.path.exists(path):
            return
        with open(path) as f:
            for line in f:
                try:
                    row = _json.loads(line)
                except ValueError:
                    continue
                out = row.get("output") or ""
                m = re.match(r"missing input files for slot (\S+):", out)
                if row.get("status") == "FAILED" and m:
                    self._audited_slots.add(m.group(1))
                m2 = re.search(r"results_(.+)\.jsonl$", out)
                if row.get("status") == "SUCCESS" and m2:
                    self._audited_slots.add(m2.group(1))

    # -- create/start/stop/delete (reference scheduler.py:408-512) ----------

    def create(self) -> None:
        if self.config.status not in ("NOT_CREATED",):
            raise RuntimeError(f"scheduler exists (status={self.config.status})")
        os.makedirs(self.config.output_dir, exist_ok=True)
        self.config.status = "STOPPED"

    def start(self, available_now: bool = False) -> None:
        if self.config.status == "NOT_CREATED":
            raise RuntimeError("create() the scheduler first")
        cfg = self.config

        def _reader(columns: list[str], path_glob: str) -> DataFrame:
            schema = T.StructType(
                [T.StructField("Timestamp", T.TimestampType(), True)]
                + [T.StructField(t, T.DoubleType(), True) for t in columns]
            )
            # enforceSchema=False makes Spark VALIDATE the CSV header
            # against the schema's field names — without it, a tag order
            # differing from the files' column order silently swaps sensor
            # values (positional binding), scoring every signal with the
            # wrong statistics while reporting SUCCESS
            return (
                self.spark.readStream.schema(schema)
                .option("header", True)
                .option("enforceSchema", False)
                .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
                .csv(path_glob)
                .withColumn("_file", F.input_file_name())
            )

        if cfg.component_columns:
            # per-component file contract (reference scheduler.py:196-209):
            # one stream per component with ITS schema, aligned onto the
            # union of all sensors (absent sensors = null) and unioned.
            # Components not keyed in component_columns fall back to
            # cfg.tags (columns_for), so a partial dict can't silently
            # drop a component's files while the audit still expects them.
            # Each source tracks its own files in the shared checkpoint.
            comps = sorted(set(cfg.components) | set(cfg.component_columns))
            all_tags = cfg.all_tags
            stream = None
            for comp in comps:
                cols = cfg.columns_for(comp)
                if not cols:
                    raise ValueError(
                        f"component {comp!r} has no sensor columns (set "
                        "component_columns[comp] or tags)"
                    )
                s = _reader(cols, self._component_glob(comp)).select(
                    "Timestamp",
                    *[
                        F.col(t) if t in cols
                        else F.lit(None).cast("double").alias(t)
                        for t in all_tags
                    ],
                    "_file",
                )
                stream = s if stream is None else stream.unionByName(s)
        else:
            stream = _reader(cfg.tags, os.path.join(cfg.input_dir, "*.csv"))
        # ST3 (DataDelayOffsetInMinutes): with a foreachBatch sink and no
        # stateful operator a watermark would be a no-op.  Instead, every
        # batch ends with an expected-vs-arrived diff: once a slot is
        # ``delay_offset_minutes`` past its boundary, each component file
        # that never arrived is recorded as a FAILED execution (reference
        # scheduler.py:187-189, 355-357).  A file landing even later is
        # still scored — the file source delivers it in a later micro-batch
        # and its rows are APPENDED to the slot's results file (never an
        # overwrite), with a catch-up SUCCESS audit row.
        writer = (
            stream.writeStream.foreachBatch(self._process_batch)
            .option(
                "checkpointLocation", os.path.join(cfg.output_dir, "_checkpoint")
            )
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(
                processingTime=f"{cfg.frequency_minutes * 60} seconds"
            )
        self.query = writer.start()
        cfg.status = "RUNNING"

    def stop(self) -> None:
        if self.query is not None:
            self.config.status = "STOPPING"
            self.query.stop()
            self.query = None
        self.config.status = "STOPPED"

    def delete(self) -> None:
        # parity: delete requires STOPPED (scheduler.py:504-510)
        if self.config.status == "RUNNING":
            raise RuntimeError("stop the scheduler before deleting it")
        self.config.status = "NOT_CREATED"

    def await_termination(self, timeout: int | None = None) -> None:
        if self.query is not None:
            self.query.awaitTermination(timeout)

    def _component_glob(self, component: str) -> str:
        """Glob for one component's slot files, with the stamp shape baked
        in so a component whose name extends another's by a delimiter
        ('pump' vs 'pump_unit' with '_') never matches its sibling's
        files — 'pump_*' would read pump_unit_20240101.csv with pump's
        schema and fail header validation for the whole stream."""
        cfg = self.config
        stamp_glob = {
            "yyyyMMddHHmmss": "[0-9]" * 14,
            "yyyy-MM-dd-HH-mm-ss": (
                "[0-9]" * 4 + "-" + "[0-9]" * 2 + "-" + "[0-9]" * 2
                + "-" + "[0-9]" * 2 + "-" + "[0-9]" * 2 + "-" + "[0-9]" * 2
            ),
            "EPOCH": "[0-9]*",
        }[cfg.filename_ts_format]
        return os.path.join(
            cfg.input_dir, f"{component}{cfg.delimiter}{stamp_glob}.csv"
        )

    # -- per-batch processing (ST2+ST4+ST5) ----------------------------------

    def _parse_filenames(self, batch_df: DataFrame) -> DataFrame:
        """ST2: component + slot parsed from the file-name contract, with the
        delimiter regex-escaped and the stamp anchored to its format's exact
        shape (a '-' delimiter with yyyy-MM-dd-HH-mm-ss must not mis-split).
        F3: stamps are wall-time in the configured InputTimeZoneOffset
        (scheduler.py:385-386; dataset.py:534 stamps file names in local
        time) -> UTC slot = stamp - offset.  EPOCH stamps are absolute
        already, no offset applies."""
        cfg = self.config
        pat = (
            rf"^(.+){re.escape(cfg.delimiter)}"
            rf"({_SLOT_STAMP_RE[cfg.filename_ts_format]})\.csv$"
        )
        base = F.regexp_extract(F.col("_file"), r"([^/]+)$", 1)
        parsed = batch_df.withColumn(
            "_component", F.regexp_extract(base, pat, 1)
        ).withColumn("_slot_str", F.regexp_extract(base, pat, 2))
        if cfg.filename_ts_format == "EPOCH":
            slot = F.timestamp_seconds(F.col("_slot_str").cast("long"))
        else:
            slot = F.to_timestamp(F.col("_slot_str"), cfg.filename_ts_format)
            offset_min = parse_tz_offset_minutes(cfg.timezone_offset)
            if offset_min:
                slot = slot - F.make_interval(mins=F.lit(offset_min))
        return parsed.withColumn("_slot", slot)

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """ST4+ST5 per wakeup: event-time filter each discovered slot, score
        it, and write its JSON-lines results — all JVM-side, in exactly TWO
        Spark jobs however many slots a catch-up batch contains:

        1. one metadata aggregate (per-slot in-window counts + arrived
           components + unparseable file names — #slots driver rows);
        2. one write of every slot's scored lines, ``partitionBy`` slot
           stamp, each slot a parallel task instead of a serial
           ``coalesce(1)`` job per slot.

        The driver then only moves finished part files into the per-slot
        contract files (metadata renames, proportional to slot count).
        Ends with the ST3 expected-file audit."""
        cfg = self.config
        sc = self.spark.sparkContext
        # job group so tests (and ops) can count the jobs a batch costs
        sc.setJobGroup(
            f"scheduler-{cfg.scheduler_name}-batch-{batch_id}",
            f"{cfg.scheduler_name} micro-batch {batch_id}",
        )
        parsed = self._parse_filenames(batch_df).persist().transform(_note_persist)
        secs = cfg.frequency_minutes * 60
        in_slot_cond = (F.col("Timestamp") >= F.col("_slot")) & (
            F.col("Timestamp") <= F.col("_slot") + F.make_interval(secs=F.lit(secs - 1))
        )
        # job 1 — per-slot metadata (tiny: one row per slot in this batch);
        # the null-slot group carries the unparseable file names
        meta = (
            parsed.groupBy("_slot", "_slot_str")
            .agg(
                F.count(F.when(in_slot_cond, 1)).alias("n_in"),
                F.collect_set("_component").alias("_comps"),
                F.collect_set(
                    F.when(F.col("_slot").isNull(), F.col("_file"))
                ).alias("_bad"),
            )
            .collect()
        )
        # unparseable file names (wrong delimiter/stamp format) must not
        # vanish silently — record a FAILED audit row naming the files
        bad_files = sorted(
            {f for m in meta if m["_slot"] is None for f in m["_bad"]}
        )
        if bad_files:
            self._record_execution(
                None, secs, "FAILED", 0, 0,
                f"unparseable file names: {bad_files[:5]}",
            )
        slots = sorted(
            (m for m in meta if m["_slot"] is not None),
            key=lambda m: m["_slot"],
        )
        for m in slots:  # ST3 bookkeeping for the expected-file audit
            entry = self._arrived.setdefault(m["_slot_str"], (m["_slot"], set()))
            entry[1].update(m["_comps"])
        # build every slot's scored-lines plan lazily, then write them all
        # in ONE job partitioned by slot stamp
        ok_slots: list[tuple] = []
        branches = []
        for m in slots:
            slot, stamp, n_in = m["_slot"], m["_slot_str"], m["n_in"]
            # select the metadata group by its stamp string, never by a
            # timestamp literal: codegen inlines a timestamp literal into
            # the generated Java (new classes on every slot), while a
            # string literal is passed in as a reference object
            rows = parsed.filter(
                (F.col("_slot_str") == F.lit(stamp)) & in_slot_cond
            ).drop("_file", "_component", "_slot_str", "_slot")
            if cfg.component_columns:
                # per-component files carry disjoint sensor subsets at the
                # same timestamps: merge them into full feature rows
                rows = rows.groupBy("Timestamp").agg(
                    *[
                        F.first(t, ignorenulls=True).alias(t)
                        for t in cfg.all_tags
                    ]
                )
            try:
                lines = self._scored_lines(rows).withColumn(
                    "_slot_str", F.lit(stamp)
                )
            except Exception as e:  # noqa: BLE001 — per-slot analysis error
                self._record_execution(slot, secs, "FAILED", n_in, 0, str(e))
                continue
            branches.append(lines)
            ok_slots.append((slot, stamp, n_in))
        if branches:
            union = branches[0]
            for b in branches[1:]:
                union = union.unionByName(b)
            staging = os.path.join(self.config.output_dir, f"_staging_{batch_id}")
            try:
                # job 2 — one task per slot; the sort pins a deterministic
                # row order so at-least-once replays are byte-identical,
                # and leads with the partition column so the file writer
                # doesn't re-sort (which would scramble timestamp order)
                (
                    union.repartition(F.col("_slot_str"))
                    .sortWithinPartitions("_slot_str", "value")
                    .write.mode("overwrite")
                    .partitionBy("_slot_str")
                    .text(staging)
                )
            except Exception:  # noqa: BLE001
                # fault isolation: one slot's runtime failure must not
                # take the batch's healthy slots down with it (their input
                # files are consumed by this batch and never re-delivered)
                # — fall back to independent per-slot writes, recording
                # FAILED only for the slots that actually fail
                shutil.rmtree(staging, ignore_errors=True)
                for (slot, stamp, n_in), lines in zip(ok_slots, branches):
                    try:
                        lines.drop("_slot_str").orderBy("value").coalesce(
                            1
                        ).write.mode("overwrite").text(
                            os.path.join(staging, f"_slot_str={stamp}")
                        )
                        n_scored = self._move_slot_parts(
                            staging, stamp, batch_id
                        )
                        self._record_execution(
                            slot, secs, "SUCCESS", n_in, n_scored,
                            os.path.join(
                                cfg.output_dir, f"results_{stamp}.jsonl"
                            ),
                        )
                    except Exception as e:  # noqa: BLE001
                        self._record_execution(
                            slot, secs, "FAILED", n_in, 0, str(e)
                        )
            else:
                for slot, stamp, n_in in ok_slots:
                    out_path = os.path.join(
                        cfg.output_dir, f"results_{stamp}.jsonl"
                    )
                    n_scored = self._move_slot_parts(staging, stamp, batch_id)
                    self._record_execution(
                        slot, secs, "SUCCESS", n_in, n_scored, out_path
                    )
            shutil.rmtree(staging, ignore_errors=True)
        parsed.unpersist()
        self.audit_missing_files()

    def audit_missing_files(
        self, now: datetime | None = None, since: datetime | None = None
    ) -> int:
        """ST3/ST6 — the reference's primary ops signal: for every slot
        that is ``delay_offset_minutes`` past its boundary, diff
        ``expected_filenames`` against what actually arrived and record one
        FAILED execution naming the missing component files
        (scheduler.py:187-189, 355-357; found later via
        ``list_inference_executions(execution_status="FAILED")``).

        Runs automatically after every micro-batch over the slots the file
        source has seen.  Pass ``since`` to ALSO audit the full slot grid
        from that instant (catches slots where no file at all arrived —
        batches only fire on arrivals).  Returns #FAILED rows recorded;
        each slot is audited once (durable across restarts via the audit
        log)."""
        cfg = self.config
        now = now or self.now_fn()
        freq = timedelta(minutes=cfg.frequency_minutes)
        delay = timedelta(minutes=cfg.delay_offset_minutes)
        secs = cfg.frequency_minutes * 60
        candidates: dict[str, tuple[datetime, set]] = dict(self._arrived)
        if since is not None:
            t = slot_bounds_for(since, cfg.frequency_minutes)[0]
            while t + freq + delay <= now:
                candidates.setdefault(self._stamp_for_slot(t), (t, set()))
                t += freq
        expected_comps = set(cfg.components) | set(cfg.component_columns or {})
        n_recorded = 0
        for stamp in sorted(candidates):
            slot, comps = candidates[stamp]
            if stamp in self._audited_slots:
                continue
            if slot + freq + delay > now:
                continue  # still inside the delay allowance
            missing = sorted(expected_comps - set(comps))
            if missing:
                names = [f"{c}{cfg.delimiter}{stamp}.csv" for c in missing]
                self._record_execution(
                    slot, secs, "FAILED", 0, 0,
                    f"missing input files for slot {stamp}: {names}",
                )
                n_recorded += 1
            self._audited_slots.add(stamp)
        return n_recorded

    def _stamp_for_slot(self, slot: datetime) -> str:
        """UTC slot -> file-name stamp (wall time at the configured
        InputTimeZoneOffset; EPOCH stamps are absolute)."""
        cfg = self.config
        if cfg.filename_ts_format != "EPOCH":
            slot = slot + timedelta(
                minutes=parse_tz_offset_minutes(cfg.timezone_offset)
            )
        return format_slot(slot, cfg.filename_ts_format)

    def _record_execution(
        self, slot, secs: int, status: str, n_in: int, n_scored: int, output: str
    ) -> None:
        """ST6: append the execution row in memory AND write-through to the
        durable audit file, so list_inference_executions survives driver
        restarts (the reference's audit is server-backed)."""
        import json as _json

        end = slot + timedelta(seconds=secs - 1) if slot is not None else None
        row = (
            self.config.scheduler_name,
            slot,
            end,
            status,
            n_in,
            n_scored,
            output,
        )
        self._executions.append(row)
        fmt = lambda t: t.strftime("%Y-%m-%d %H:%M:%S") if t else None  # noqa: E731
        with open(self._audit_path(), "a") as f:
            f.write(
                _json.dumps(
                    {
                        "scheduler": row[0],
                        "slot_start": fmt(slot),
                        "slot_end": fmt(end),
                        "status": status,
                        "n_input": n_in,
                        "n_scored": n_scored,
                        "output": output,
                    }
                )
                + "\n"
            )

    def _audit_path(self) -> str:
        # no leading underscore: Spark's file readers skip _-prefixed
        # files as hidden metadata, which would make the audit unreadable
        return os.path.join(self.config.output_dir, "audit-log.jsonl")

    def _scored_lines(self, rows: DataFrame) -> DataFrame:
        """Score one slot -> single-column ``value`` JSON-lines DataFrame.
        Record shape (scheduler.py:619-650): timestamp, prediction,
        optional anomaly_score, diagnostics only on prediction==1."""
        scored = self.score_fn(rows)
        cols = [
            F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss").alias("timestamp"),
            F.col("prediction"),
        ]
        if "anomaly_score" in scored.columns:
            cols.append(F.col("anomaly_score"))
        if "diagnostics" in scored.columns:
            # null diagnostics (prediction==0) vanish via ignoreNullFields
            cols.append(
                F.when(F.col("prediction") == 1, F.col("diagnostics")).alias(
                    "diagnostics"
                )
            )
        return scored.select(
            F.to_json(
                F.struct(*cols), {"ignoreNullFields": "true"}
            ).alias("value")
        )

    def _move_slot_parts(self, staging: str, stamp: str, batch_id: int) -> int:
        """Driver-side metadata moves only.  Replay idempotency:
        foreachBatch is at-least-once, so a naive append would duplicate
        rows when a crashed batch re-runs.  Each batch owns an immutable
        per-slot part file (overwritten on replay), and the slot's contract
        file is rebuilt from all parts — re-running any batch yields
        byte-identical results."""
        parts_dir = os.path.join(self.config.output_dir, "_parts", stamp)
        os.makedirs(parts_dir, exist_ok=True)
        batch_part = os.path.join(parts_dir, f"batch-{batch_id:012d}.jsonl")
        n_scored = 0
        slot_dir = os.path.join(staging, f"_slot_str={stamp}")
        with open(batch_part, "wb") as fout:
            for p in sorted(glob.glob(os.path.join(slot_dir, "part-*"))):
                with open(p, "rb") as fin:
                    data = fin.read()
                n_scored += data.count(b"\n")
                fout.write(data)
        out_path = os.path.join(self.config.output_dir, f"results_{stamp}.jsonl")
        with open(out_path, "wb") as fout:
            for p in sorted(glob.glob(os.path.join(parts_dir, "batch-*.jsonl"))):
                with open(p, "rb") as fin:
                    fout.write(fin.read())
        return n_scored

    def get_predictions(
        self,
        start_time: datetime | None = None,
        end_time: datetime | None = None,
        expand_diagnostics: bool = False,
    ) -> DataFrame:
        """Reference ``scheduler.get_predictions`` (scheduler.py:598-662):
        read every execution's JSON-lines output as one typed DataFrame
        (S7 — the reference ``eval``s each line), time-sorted, optionally
        with diagnostics exploded + pivoted into ``component\\tag``
        columns (N1, scheduler.py:636-657)."""
        from ..sources.readers import (
            INFERENCE_RESULT_SCHEMA,
            pivot_diagnostics,
            read_inference_results,
        )

        paths = sorted(
            glob.glob(os.path.join(self.config.output_dir, "results_*.jsonl"))
        )
        if not paths:
            df = self.spark.createDataFrame([], INFERENCE_RESULT_SCHEMA)
        else:
            df = read_inference_results(self.spark, paths)
        if start_time:
            df = df.filter(F.col("timestamp") >= F.lit(start_time))
        if end_time:
            df = df.filter(F.col("timestamp") <= F.lit(end_time))
        if expand_diagnostics:
            df = pivot_diagnostics(df)
        return df.orderBy("timestamp")

    # -- ST6 audit log --------------------------------------------------------

    def list_inference_executions(
        self,
        execution_status: str | None = None,
        start_time: datetime | None = None,
        end_time: datetime | None = None,
        max_results: int | None = None,
        next_token: int = 0,
    ) -> DataFrame:
        """Reference list_inference_executions filters + MaxResults/NextToken
        pagination (scheduler.py:530-596, 551-583).  Reads the durable audit
        file when present (it outlives driver restarts); falls back to the
        in-memory rows otherwise.

        Without ``max_results`` returns the full DataFrame (legacy).  With
        it, returns ``(page_df, next_token | None)`` — pages walk a
        deterministic (slot_start, status, output) ordering."""
        audit = self._audit_path()
        if os.path.exists(audit):
            df = (
                self.spark.read.schema(EXECUTION_SCHEMA)
                .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
                .json(audit)
            )
        else:
            df = self.spark.createDataFrame(self._executions, EXECUTION_SCHEMA)
        if execution_status:
            df = df.filter(F.col("status") == execution_status)
        if start_time:
            df = df.filter(F.col("slot_start") >= F.lit(start_time))
        if end_time:
            df = df.filter(F.col("slot_end") <= F.lit(end_time))
        if max_results is None:
            return df
        # one job: fetch max_results+1 to probe for a next page (the audit
        # is metadata-sized — a page collect is cheap by construction)
        probe = (
            df.orderBy("slot_start", "status", "output")
            .offset(next_token)
            .limit(max_results + 1)
            .collect()
        )
        token = next_token + max_results if len(probe) > max_results else None
        page = self.spark.createDataFrame(
            probe[:max_results], EXECUTION_SCHEMA
        )
        return page, token


# --- ST8: replay generator ---------------------------------------------------


def generate_replay_data(
    df_long: DataFrame,
    out_dir: str,
    start_at: datetime,
    frequency_minutes: int = 5,
    duration_minutes: int = 60,
    delimiter: str = "_",
    timezone_offset: str = "+00:00",
) -> dict:
    """Shift the tail of historical data so it ends 'now', chunk it by the
    upload frequency, emit per-slot component CSVs, and report empty slots
    as failures (reference dataset.py:420-556, empty tracking 539-551).

    ``timezone_offset`` (F3): file-name stamps are wall time in the
    scheduler's zone (the reference localizes UTC history to the
    scheduler's tz before stamping, dataset.py:534) — symmetric with the
    read-side conversion in ``InferenceScheduler._parse_filenames``."""
    from ..sources.sinks import write_inference_chunks

    offset_min = parse_tz_offset_minutes(timezone_offset)
    bounds = df_long.agg(F.max("ts").alias("mx")).collect()[0]
    # shift so history ends at start_at - 1s: nothing spills into the slot
    # that begins at start_at (the replay window is [start_at - duration,
    # start_at))
    shift_s = int((start_at - timedelta(seconds=1) - bounds["mx"]).total_seconds())
    shifted = df_long.select(
        (F.col("ts") + F.make_interval(secs=F.lit(shift_s))).alias("timestamp"),
        F.col("component"),
        F.col("tag").alias("tagname"),
        "value",
    ).filter(
        F.col("timestamp")
        >= F.lit(start_at - timedelta(minutes=duration_minutes))
    )
    written = write_inference_chunks(
        shifted, out_dir, frequency_minutes=frequency_minutes,
        delimiter=delimiter, tz_offset_minutes=offset_min,
    )
    components = [
        r[0] for r in df_long.select("component").distinct().collect()
    ]
    slots = []
    t = slot_bounds_for(
        start_at - timedelta(minutes=duration_minutes), frequency_minutes
    )[0]
    while t < start_at:
        slots.append(t)
        t += timedelta(minutes=frequency_minutes)
    expected = {
        os.path.join(out_dir, name)
        for s in slots
        for name in expected_filenames(
            components, s + timedelta(minutes=offset_min), delimiter
        )
    }
    missing = sorted(expected - set(written))
    return {
        "written": sorted(written),
        "empty_slots": missing,
        "n_slots": len(slots),
        "components": sorted(components),
    }


def prepare_inference_data(
    df_long: DataFrame,
    out_dir: str,
    start_date,
    num_sequences: int = 3,
    frequency_minutes: int = 5,
    now: datetime | None = None,
    delimiter: str = "_",
) -> dict:
    """Reference ``prepare_inference_data`` (dataset.py:242-336): extract
    ``num_sequences`` consecutive ``frequency``-minute windows starting at
    ``start_date``, restamp each window's rows onto the scheduler's
    upcoming wakeup slots (slot i = floor(now) + i*freq; rows inside a
    window are positionally restamped at freq-minute spacing,
    dataset.py:316-323), and write one ``{component}{delim}{stamp}.csv``
    per component per sequence.

    One Spark job end-to-end: window tagging is a column expression,
    positional restamping a per-sequence dense_rank (each sequence holds
    one wakeup's worth of rows, so the per-partition window is tiny), and
    the file-name contract comes from the same staging+rename sink as the
    replay generator.  ``now`` is injectable for deterministic tests.

    NOTE (reference-faithful quirk, dataset.py:316-323): rows inside a
    sequence are restamped at FREQUENCY-minute spacing, which assumes the
    input is already resampled at sampling rate == frequency (the
    reference tutorial's layout).  Feeding finer-grained data produces
    rows outside the slot window, which the scheduler's ST4 filter then
    drops — resample first.
    """
    from ..sources.sinks import write_inference_chunks

    from datetime import timezone

    if isinstance(start_date, str):
        start_date = datetime.fromisoformat(start_date)
    now = now or datetime.now()
    base_tm = slot_bounds_for(now, frequency_minutes)[0]
    secs = frequency_minutes * 60
    # naive datetimes are UTC wall time (matching the UTC Spark session);
    # .timestamp() on a naive value would inject the driver's local offset
    # and desynchronize the extraction window and slot stamps from the data
    start_epoch = int(start_date.replace(tzinfo=timezone.utc).timestamp())
    base_epoch = int(base_tm.replace(tzinfo=timezone.utc).timestamp())

    seq = F.floor((F.unix_timestamp(F.col("ts")) - F.lit(start_epoch)) / secs)
    df = df_long.withColumn("_seq", seq).filter(
        (F.col("_seq") >= 0) & (F.col("_seq") < num_sequences)
    )
    from pyspark.sql import Window

    rn = (
        F.dense_rank().over(Window.partitionBy("_seq").orderBy("ts")) - 1
    )
    out = df.select(
        F.timestamp_seconds(
            F.lit(base_epoch) + (F.col("_seq") + rn) * secs
        ).alias("timestamp"),
        F.col("component"),
        F.col("tag").alias("tagname"),
        "value",
        F.date_format(
            F.timestamp_seconds(F.lit(base_epoch) + F.col("_seq") * secs),
            "yyyyMMddHHmmss",
        ).alias("_slot"),
    )
    written = write_inference_chunks(
        out,
        out_dir,
        frequency_minutes=frequency_minutes,
        delimiter=delimiter,
        slot_col="_slot",
    )
    return {
        "written": sorted(written),
        "slots": [
            format_slot(base_tm + timedelta(minutes=frequency_minutes * i))
            for i in range(num_sequences)
        ],
    }


# --- inspection report (reference scheduler.py:172-276) ----------------------


def build_inspection_report(
    cfg: SchedulerConfig,
    component_columns: dict[str, list[str]] | None = None,
    now: datetime | None = None,
) -> str:
    """Markdown report spelling out the scheduler's behavior: cadence, delay
    allowance, input location, next wakeup, and — per component — the exact
    expected file name plus a row template table (reference
    build_inspection_report, scheduler.py:172-214).

    ``component_columns`` maps component -> column names (Timestamp first);
    defaults to every component sharing ``cfg.tags``.  ``now`` is injectable
    for deterministic tests.
    """
    if component_columns is None:
        component_columns = {
            c: ["Timestamp", *cfg.columns_for(c)] for c in cfg.components
        }
    now = now or datetime.now()
    freq = cfg.frequency_minutes
    slot_start, slot_end = slot_bounds_for(now, freq)
    wakeup = next_wakeup(now, freq)
    stamp = format_slot(slot_start, cfg.filename_ts_format)
    n = len(component_columns)

    lines = [
        f"**SCHEDULER: {cfg.scheduler_name}**\n",
        f"*Scheduler inspection report run at: {now}*\n",
        "Here is the behavior you can expect from this scheduler:\n",
    ]
    if cfg.delay_offset_minutes > 0:
        lines.append(f"* It will wake up every **{freq} minutes**")
        lines.append(
            f"and wait for up to **{cfg.delay_offset_minutes} minute(s)** "
            "for the data to be available.\n"
        )
    else:
        lines.append(f"* It will wake up every **{freq} minutes**.\n")
    lines.append(
        "* It will look for CSV files in the following location "
        f"`{os.path.join(cfg.input_dir, '*.csv')}`.\n"
    )
    lines.append(
        f"* The current time is **{now}** and the next time the scheduler "
        f"will wake up will be **{wakeup}**\n"
    )
    lines.append(
        f"* The dataset associated to this scheduler's model has **{n} "
        "components** in its schema.\n"
    )
    lines.append(
        f"Each time the scheduler wakes up, it expects to find **{n} CSV "
        "files** in the input location, one for each component as defined "
        "in the dataset schema.\n"
    )
    lines.append(
        f"If the scheduler was to wake up at **{wakeup}**, it would look "
        "for the following files:"
    )
    for comp, columns in component_columns.items():
        lines.append(
            f"\n* `{comp}{cfg.delimiter}{stamp}.csv` and this file content "
            "would have to follow this template:"
        )
        table = "\n"
        for col in columns:
            table += " | " + col
        table += "|"
        table += "\n" + "| --- " * len(columns) + "|"
        table += f"\n| {str(slot_start)[:19]}" + "| 0.0 " * (len(columns) - 1) + "|"
        table += "\n" + "| ... " * len(columns) + "|"
        table += f"\n| {str(slot_end)[:19]}" + "| 0.0 " * (len(columns) - 1) + "|"
        lines.append(table)
    return "\n".join(lines)


def export_report_to_html(report_md: str, html_path: str) -> None:
    """Wrap the Markdown report in the reference's standalone HTML shell
    (scheduler.py:216-276).  The reference renders via the ``markdown``
    package; we use it when importable and fall back to an escaped
    ``<pre>`` block so the export never needs an extra dependency."""
    try:
        import markdown  # type: ignore

        body = markdown.markdown(report_md, extensions=["tables"])
    except ImportError:
        body = f"<pre>{_html.escape(report_md)}</pre>"
    shell = (
        "<!DOCTYPE html>\n<html>\n<head>\n<style>\n"
        'body { font-family: Helvetica, Arial, sans-serif; font-size: 14px }\n'
        "table { border-collapse: collapse; font-size: 12px }\n"
        "th { padding: 5px 15px }\n"
        "td { height: 15px; text-align: right }\n"
        "</style>\n</head>\n<body>\n"
        f"{body}\n"
        "</body>\n</html>\n"
    )
    with open(html_path, "w") as f:
        f.write(shell)
