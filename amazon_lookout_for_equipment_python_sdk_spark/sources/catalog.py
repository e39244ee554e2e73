"""Dataset/model catalog (SURVEY S11-S13).

The reference exposes list_datasets/list_models/list_schedulers with prefix
filters + MaxResults/NextToken pagination (dataset.py:34-74, model.py:23-73,
scheduler.py:530-596), create_dataset + ingestion (dataset.py:614-804), and
cascading delete (dataset.py:338-418).

Spark-native: a dataset is a Parquet table directory + its component schema
JSON; ingestion = schema-imposed CSV read -> validation -> partitioned
Parquet write (synchronous — the reference's polling loops collapse away);
listings are metadata DataFrames.  Pagination survives at the API surface
as (max_results, next_token) slicing of a deterministic name ordering.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schema as sch
from .readers import TRAINING_TS_FORMAT, read_component_csv


class Catalog:
    """File-backed catalog rooted at ``root`` (one directory per dataset:
    ``<root>/<name>/{_schema.json, data/ (parquet), models/}``)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        #: live InferenceScheduler instances per (dataset, model) — the
        #: linkage the reference walks when cascading a delete
        #: (dataset.py:368-393: list_inference_schedulers per model)
        self._schedulers: dict[str, list] = {}
        os.makedirs(root, exist_ok=True)

    # --- S12: create + ingest ------------------------------------------------

    def create_dataset(self, name: str, schema_json: str) -> None:
        sch.parse_data_schema(schema_json)  # validates
        path = os.path.join(self.root, name)
        if os.path.exists(path):
            raise ValueError(f"dataset {name!r} already exists")
        os.makedirs(os.path.join(path, "models"))
        meta = {
            "name": name,
            "created_at": datetime.now(timezone.utc).isoformat(),
            "status": "CREATED",
        }
        with open(os.path.join(path, "_schema.json"), "w") as f:
            f.write(schema_json)
        with open(os.path.join(path, "_meta.json"), "w") as f:
            json.dump(meta, f)

    def ingest_data(
        self,
        name: str,
        csv_root: str,
        partition_by_date: bool = False,
        mode: str = "overwrite",
    ) -> dict:
        """Read each component's CSVs with the imposed schema, validate
        column sets, write partitioned Parquet (long layout, partitioned by
        component — SURVEY §4.1 partition-pruning note).

        ``partition_by_date`` adds a ``ts_date`` partition column so P4
        time-range predicates prune whole date directories at the scan —
        at 100 TB this turns "read a week" into touching 7/N of the data
        before row-group stats even apply.

        ``mode='append'`` ingests incrementally (the reference's repeated
        start_data_ingestion_job runs accumulate into the dataset); the
        default overwrite replaces the table.
        """
        if mode not in ("overwrite", "append"):
            raise ValueError(f"mode must be overwrite|append, got {mode!r}")
        path = self._dataset_path(name)
        schemas = sch.struct_types_from_schema(self._schema_json(name))
        parts = []
        # S2: a URI-schemed root (file://, s3a://, hdfs://) resolves through
        # the Hadoop FileSystem — same existence semantics as a local path
        is_uri = "://" in csv_root
        for comp, st in schemas.items():
            comp_dir = (
                f"{csv_root.rstrip('/')}/{comp}"
                if is_uri
                else os.path.join(csv_root, comp)
            )
            exists = (
                sch.hadoop_dir_exists(self.spark, comp_dir)
                if is_uri
                else os.path.isdir(comp_dir)
            )
            if not exists:
                raise ValueError(f"missing CSV directory for component {comp!r}")
            df = read_component_csv(
                self.spark, comp_dir, st, ts_format=TRAINING_TS_FORMAT
            )
            missing = set(f.name for f in st.fields) - set(df.columns)
            if missing:
                raise ValueError(f"component {comp!r} missing columns {missing}")
            ts_col = st.fields[0].name
            tags = [f.name for f in st.fields[1:]]
            pairs = ", ".join(f"'{t}', `{t}`" for t in tags)
            long_df = df.select(
                F.col(ts_col).alias("ts"),
                F.lit(comp).alias("component"),
                F.expr(f"stack({len(tags)}, {pairs}) AS (tag, value)"),
            )
            parts.append(long_df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        part_cols = ["component"]
        if partition_by_date:
            out = out.withColumn("ts_date", F.to_date("ts"))
            part_cols.append("ts_date")
        data_path = os.path.join(path, "data")
        # row counts come from the parquet footers (a metadata read), never
        # from the CSVs, which would parse every file a second time
        before = (
            self.spark.read.parquet(data_path).count()
            if mode == "append" and os.path.isdir(data_path)
            else 0
        )
        (
            out.repartition(*[F.col(c) for c in part_cols])
            .write.mode(mode)
            .partitionBy(*part_cols)
            .parquet(data_path)
        )
        total = self.spark.read.parquet(data_path).count()
        self._update_meta(name, status="ACTIVE", rows=total)
        # rows_ingested = THIS job's rows (append accumulates; meta.rows
        # tracks the cumulative table size)
        return {"status": "SUCCESS", "rows_ingested": total - before}

    def load_dataset(self, name: str) -> DataFrame:
        return self.spark.read.parquet(
            os.path.join(self._dataset_path(name), "data")
        )

    # --- S11: listings with prefix + pagination ------------------------------

    def list_datasets(
        self, prefix: str | None = None, max_results: int = 50,
        next_token: int = 0,
    ) -> tuple[list[dict], int | None]:
        """Returns (page, next_token) — reference MaxResults/NextToken
        contract (dataset.py:43-67, page size default 50)."""
        names = sorted(
            d
            for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d))
        )
        if prefix:
            names = [n for n in names if n.startswith(prefix)]
        page = names[next_token : next_token + max_results]
        token = (
            next_token + max_results
            if next_token + max_results < len(names)
            else None
        )
        return [self._meta(n) for n in page], token

    def list_models(
        self,
        dataset_name: str,
        prefix: str | None = None,
        max_results: int | None = None,
        next_token: int = 0,
    ) -> list[str] | tuple[list[str], int | None]:
        """Reference list_models MaxResults/NextToken contract
        (model.py:39-66).  Without ``max_results`` returns the full name
        list (legacy); with it, ``(page, next_token | None)``."""
        mdir = os.path.join(self._dataset_path(dataset_name), "models")
        names = sorted(os.listdir(mdir)) if os.path.isdir(mdir) else []
        names = [n for n in names if not prefix or n.startswith(prefix)]
        if max_results is None:
            return names
        page = names[next_token : next_token + max_results]
        token = (
            next_token + max_results
            if next_token + max_results < len(names)
            else None
        )
        return page, token

    def register_model(self, dataset_name: str, model_name: str, payload: dict):
        mdir = os.path.join(self._dataset_path(dataset_name), "models")
        os.makedirs(mdir, exist_ok=True)
        with open(os.path.join(mdir, model_name), "w") as f:
            json.dump(payload, f)

    def attach_scheduler(self, dataset_name: str, scheduler) -> None:
        """Track a live InferenceScheduler against a dataset so a cascading
        delete can stop it first (the reference discovers this linkage via
        list_inference_schedulers(ModelName=...), dataset.py:368-372)."""
        self._dataset_path(dataset_name)  # must exist
        self._schedulers.setdefault(dataset_name, []).append(scheduler)

    def list_schedulers(self, dataset_name: str) -> list:
        return list(self._schedulers.get(dataset_name, []))

    # --- S13: cascading delete ----------------------------------------------

    def delete_dataset(self, name: str, delete_children: bool = False) -> None:
        """Full cascade parity with dataset.py:338-418: with
        ``delete_children`` the walk is schedulers (stop -> delete, the
        reference's stop_inference_scheduler + STOPPED poll at 380-387) ->
        models -> dataset; without it, any child refuses the delete.  No
        polling needed — our stop() is synchronous."""
        path = self._dataset_path(name)
        models = self.list_models(name)
        schedulers = self._schedulers.get(name, [])
        if (models or schedulers) and not delete_children:
            raise ValueError(
                f"dataset {name!r} still has models {models} and "
                f"{len(schedulers)} scheduler(s); pass delete_children=True"
            )
        for sched in schedulers:
            if sched.config.status == "RUNNING":
                sched.stop()
            sched.delete()
        self._schedulers.pop(name, None)
        shutil.rmtree(path)

    # --- internals -----------------------------------------------------------

    def _dataset_path(self, name: str) -> str:
        path = os.path.join(self.root, name)
        if not os.path.isdir(path):
            raise ValueError(f"dataset {name!r} does not exist")
        return path

    def _schema_json(self, name: str) -> str:
        with open(os.path.join(self._dataset_path(name), "_schema.json")) as f:
            return f.read()

    def _meta(self, name: str) -> dict:
        with open(os.path.join(self._dataset_path(name), "_meta.json")) as f:
            return json.load(f)

    def _update_meta(self, name: str, **kv) -> None:
        meta = self._meta(name)
        meta.update(kv)
        with open(os.path.join(self._dataset_path(name), "_meta.json"), "w") as f:
            json.dump(meta, f)
