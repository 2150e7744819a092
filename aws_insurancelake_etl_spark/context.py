"""Run context shared by every operator.

The reference threads ``(df, spec, args, lineage, sc)`` through every
transform (dispatch loop ``lib/glue_scripts/etl_collect_to_cleanse.py:271-291``)
and keeps side state in DynamoDB tables (value lookups
``lib/glue_scripts/lib/datatransform_lookup.py:29-41``, token vault
``datatransform_dataprotection.py:163-173``, lineage ``datalineage.py:74-89``).

Here the same contract is a single ``RunContext`` object; side state lives in
ordinary lake files (JSON lookup store, Parquet token vault, JSONL lineage
log) that would be small broadcastable tables on a real cluster.
"""

from __future__ import annotations

import json
import os
import threading
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .plans.lineage import LineageLog


class LookupStore:
    """Key-value side tables for the ``lookup``/``multilookup`` transforms.

    File layout (one JSON per lookup, under ``root_dir``):
      - value lookup ``<name>.json``: ``{"TX": "Texas", ...}``
      - multi lookup ``<group>.multi.json``:
        ``{"item-key": {"attr1": "v1", "attr2": "v2"}, ...}``

    Mirrors the reference's DynamoDB etl-value-lookup / etl-multi-lookup
    tables (``datatransform_lookup.py:11-41,120-160``) as broadcast-join-able
    local tables — at cluster scale these stay tiny (dimension data) so a
    broadcast hash join is always the right physical plan.
    """

    def __init__(self, root_dir: str | None = None) -> None:
        self.root_dir = root_dir
        self._mem_values: dict[str, dict[str, str]] = {}
        self._mem_multi: dict[str, dict[str, dict[str, Any]]] = {}

    # -- in-memory registration (used heavily by tests) -------------------
    def put_values(self, name: str, mapping: dict[str, str]) -> None:
        self._mem_values[name] = dict(mapping)

    def put_multi(self, group: str, mapping: dict[str, dict[str, Any]]) -> None:
        self._mem_multi[group] = {k: dict(v) for k, v in mapping.items()}

    def get_values(self, name: str) -> dict[str, str]:
        if name in self._mem_values:
            return self._mem_values[name]
        path = os.path.join(self.root_dir or "", f"{name}.json")
        if self.root_dir and os.path.exists(path):
            with open(path, encoding="utf-8") as handle:
                return json.load(handle)
        raise KeyError(f"lookup '{name}' not found (searched memory and {path})")

    def get_multi(self, group: str) -> dict[str, dict[str, Any]]:
        if group in self._mem_multi:
            return self._mem_multi[group]
        path = os.path.join(self.root_dir or "", f"{group}.multi.json")
        if self.root_dir and os.path.exists(path):
            with open(path, encoding="utf-8") as handle:
                return json.load(handle)
        raise KeyError(f"multilookup '{group}' not found (searched memory and {path})")


@dataclass
class RunContext:
    """Everything a transform may need besides the DataFrame itself."""

    spark: SparkSession
    args: dict[str, Any] = field(default_factory=dict)
    lineage: LineageLog | None = None
    lookups: LookupStore = field(default_factory=LookupStore)
    #: token vault rows accumulated by transform_tokenize within a run
    _token_vault: list[DataFrame] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)
    #: how to release each frame cached or checkpointed for this run
    #: (:meth:`cache`, :meth:`checkpoint`); :meth:`release_cached` runs them
    _release: list[Callable[[], Any]] = field(default_factory=list, repr=False)

    def arg(self, key: str, default: Any = None) -> Any:
        return self.args.get(key, default)

    def log_lineage(self, operation: str, df: DataFrame | None = None, **info: Any) -> None:
        if self.lineage is not None:
            self.lineage.update(operation, df=df, **info)

    def cache(self, df: DataFrame) -> DataFrame:
        """``df.cache()``, remembered so :meth:`release_cached` can
        unpersist it when the run ends."""
        df = df.cache()
        with self._lock:
            self._release.append(df.unpersist)
        return df

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """``df.localCheckpoint(eager=False)``: the first action that reads
        the frame stores its rows as it computes them and later actions
        read them back.  Under AQE this costs no job of its own, where a
        :meth:`cache` is built by one.  Released by :meth:`release_cached`."""
        df = df.localCheckpoint(eager=False)
        rdd = df._jdf.queryExecution().analyzed().rdd()
        with self._lock:
            self._release.append(lambda: rdd.unpersist(False))
        return df

    def release_cached(self) -> None:
        """Free every frame cached or checkpointed through :meth:`cache`
        and :meth:`checkpoint`."""
        with self._lock:
            release, self._release = self._release, []
        for unpersist in release:
            unpersist()

    def add_token_vault(self, df: DataFrame) -> None:
        with self._lock:
            self._token_vault.append(df)

    def token_vault_df(self) -> DataFrame | None:
        with self._lock:
            if not self._token_vault:
                return None
            out = self._token_vault[0]
            for other in self._token_vault[1:]:
                out = out.union(other)
            return out.dropDuplicates(["raw_data"])
