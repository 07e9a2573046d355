"""Continuous Avro→Parquet conversion: the reference's streaming pipeline
re-expressed as a micro-batch loop with a durable processed-file ledger.

Reference parity (/root/reference/main.py:601-613): Beam's
``MatchContinuously(file_pattern, interval, has_deduplication=True)`` polls
a glob and emits each newly-matched file exactly once into the per-file
convert DoFn. Here the same contract is:

- ``poll_once()`` = one micro-batch: list the glob, diff against the
  ledger, convert the new files (the distributed ``convert`` path — the
  driver only lists paths; decoding/casting/writing is executor work),
  then append them to the ledger.
- the ledger (one path per line, append + flush) is the durable analogue
  of Spark's file-source checkpoint: a restarted converter resumes where
  it stopped, never reconverting acknowledged files. A crash BETWEEN
  write and acknowledge replays that batch (at-least-once on crash) —
  the same window Beam's runner-state dedup has on a fresh launch.
  Checkpoint state lives behind the fs seam, so it can sit durably next
  to the data on an object store: local checkpoint dirs keep the
  append-one-line protocol; URI checkpoint dirs (``file://``, ``s3://``,
  …) write one immutable object per acknowledgment into
  ``<ledger>.d/`` — object stores don't append, and one-object-per-ack
  is exactly how Spark's own streaming file-source commit log works.
- ``request_drain()`` / drain-file = Dataflow's JOB_STATE_DRAINING
  (/root/reference/run_dataflow.py:121-143): finish the in-flight batch,
  stop polling, exit cleanly. A separate process can request drain by
  touching ``<checkpoint>/DRAIN``.

Poll cadence accepts the reference's duration grammar ("30m", "1h", "2d"
— main.py:242-246) via ``parse_duration_to_seconds``.

At 100 TB the only driver-side state is the ledger and the glob listing —
identical to what Spark's own FileStreamSource keeps; every heavy step is
a distributed job.
"""

from __future__ import annotations

import logging
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from muninn_avro_to_parquet_spark import convert as convert_mod
from muninn_avro_to_parquet_spark import fs
from muninn_avro_to_parquet_spark.functions.scalars import parse_duration_to_seconds

log = logging.getLogger(__name__)


@dataclass
class BatchResult:
    batch_id: int
    new_files: list[str] = field(default_factory=list)
    tables: dict[str, int] = field(default_factory=dict)
    fallback_files: list[str] = field(default_factory=list)
    failed_files: list[str] = field(default_factory=list)


class StreamingConverter:
    """Micro-batch file-stream converter with checkpointed file tracking."""

    def __init__(
        self,
        spark: SparkSession,
        input_pattern: str,
        output_prefix: str,
        checkpoint_dir: str,
        window_duration: str = "1h",
        permissive: bool = False,
        max_files_per_batch: int | None = None,
        snapshot_dir: str | None = None,
        snapshot_keys: dict[str, list[str]] | list[str] | None = None,
    ) -> None:
        if (snapshot_dir is None) != (snapshot_keys is None):
            raise ValueError("snapshot_dir and snapshot_keys must be set together")
        self.spark = spark
        self.input_pattern = input_pattern
        self.output_prefix = output_prefix
        self.checkpoint_dir = checkpoint_dir
        self.poll_seconds = parse_duration_to_seconds(window_duration)
        self.permissive = permissive
        # continuous CDC materialization: with snapshot_dir set, each
        # acknowledged batch ALSO merges into a versioned current-state
        # table per CDC table (operators/cdc.materialize_snapshot).
        # snapshot_keys: dict table -> primary key payload columns, or one
        # list shared by every table. The refresh runs BEFORE the batch is
        # acknowledged — a snapshot failure fails the table's batch, so the
        # exactly-once ledger and the snapshot can never drift apart
        # (an after-ack failure would skip those files' changes forever).
        self.snapshot_dir = snapshot_dir
        self.snapshot_keys = snapshot_keys
        # backlog admission control (Structured Streaming's
        # maxFilesPerTrigger): a converter started against a 100k-file
        # backlog otherwise converts it as ONE batch — hours without an
        # acknowledgment, so a crash repeats all of it. Capped batches
        # keep each ack small; the run loop drains the remainder on the
        # following polls (sorted order → oldest files first).
        self.max_files_per_batch = max_files_per_batch
        self._is_uri_ckpt = fs.is_uri(checkpoint_dir)
        fs.makedirs(checkpoint_dir)
        base = checkpoint_dir.rstrip("/")
        self._ledger_path = f"{base}/processed_files.log"
        self._failed_path = f"{base}/failed_files.log"
        self._drain_path = f"{base}/DRAIN"
        # a drain request applies to the RUN it stopped; a relaunched
        # converter resumes streaming (leaving the flag would silently
        # degrade every future run to one batch)
        if fs.exists(self._drain_path):
            fs.delete_file(self._drain_path)
        self._seen: set[str] = set()
        # per-instance token in ack-chunk names: two converters sharing one
        # checkpoint (or a restart racing a still-live run) can compute the
        # same ack sequence; a PYTHONHASHSEED-salted content hash does not
        # prevent the collision deterministically, a unique instance token
        # does — colliding seqs then write distinct objects instead of one
        # overwriting (= silently un-acknowledging) the other's chunk
        self._ack_token = uuid.uuid4().hex[:12]
        n_chunks = 0
        for ledger in (self._ledger_path, self._failed_path):
            for chunk in self._ledger_chunks(ledger):
                n_chunks += 1
                self._seen.update(
                    line for line in fs.read_text(chunk).splitlines() if line.strip()
                )
        # start the ack sequence past every existing chunk: a restarted
        # converter re-counting from zero would overwrite chunk 00000001
        # and silently lose its acknowledged paths (= replay)
        self._ack_seq = n_chunks
        self._batch_id = 0

    # -- checkpoint ----------------------------------------------------------

    def _ledger_chunks(self, ledger_path: str) -> list[str]:
        """Every file holding acknowledged paths for this ledger: the plain
        append file (local protocol) plus any ``<ledger>.d/`` objects (URI
        protocol); a checkpoint moved between filesystems replays both."""
        chunks = [ledger_path] if fs.exists(ledger_path) else []
        chunks.extend(fs.list_files(ledger_path + ".d"))
        return chunks

    def _append_ledger(self, ledger_path: str, paths: list[str]) -> None:
        if self._is_uri_ckpt:
            # object stores have no append: one immutable object per ack,
            # named by a monotonically increasing sequence (restart-safe:
            # the recovery scan reads every object regardless of name)
            chunk_dir = ledger_path + ".d"
            fs.makedirs(chunk_dir)
            self._ack_seq += 1
            fs.write_text(
                f"{chunk_dir}/{self._ack_seq:08d}-{self._ack_token}.log",
                "".join(p + "\n" for p in paths),
            )
        else:
            with open(ledger_path, "a", encoding="utf-8") as f:
                for p in paths:
                    f.write(p + "\n")
                f.flush()
                os.fsync(f.fileno())
        self._seen.update(paths)

    def _acknowledge(self, paths: list[str]) -> None:
        self._append_ledger(self._ledger_path, paths)

    def _quarantine(self, paths: list[str]) -> None:
        self._append_ledger(self._failed_path, paths)

    # -- drain (graceful stop) ----------------------------------------------

    def request_drain(self) -> None:
        """Ask a running loop to stop after the current batch (JOB_STATE_
        DRAINING semantics). Safe to call from another process via the
        drain file."""
        fs.write_text(self._drain_path, "drain\n")

    @property
    def drain_requested(self) -> bool:
        return fs.exists(self._drain_path)

    # -- the stream ----------------------------------------------------------

    def poll_once(self, ingestion_date: str | None = None) -> BatchResult:
        """One micro-batch: convert every not-yet-acknowledged file.

        Failure isolation mirrors the batch path: a table whose typed
        conversion fails retries all-string (reference main.py:524-567);
        one that fails even then is quarantined to ``failed_files.log``
        and never retried — without per-table isolation, a single poison
        file would wedge the stream in a crash loop that re-appends the
        healthy tables' rows on every restart."""
        matched = fs.glob_files(self.input_pattern)
        new = [p for p in matched if p not in self._seen]
        if self.max_files_per_batch is not None and len(new) > self.max_files_per_batch:
            new = new[: self.max_files_per_batch]  # glob_files sorts: oldest names first
        result = BatchResult(batch_id=self._batch_id, new_files=new)
        self._batch_id += 1
        for table, table_paths in convert_mod.group_paths_by_table(new).items():
            try:
                result.tables[table] = self._commit(table, table_paths, ingestion_date, result)
            except Exception:
                # the batch failed as a group — isolate per FILE so one
                # poison file doesn't quarantine (and permanently skip)
                # its healthy neighbors
                log.warning(
                    "table %s failed as a batch of %d files; retrying "
                    "file-by-file",
                    table,
                    len(table_paths),
                    exc_info=True,
                )
                rows_total = 0
                for path in table_paths:
                    try:
                        rows_total += self._commit(table, [path], ingestion_date, result)
                    except Exception:
                        log.error(
                            "file %s failed even the all-string fallback; "
                            "quarantining to %s",
                            path,
                            self._failed_path,
                            exc_info=True,
                        )
                        self._quarantine([path])
                        result.failed_files.append(path)
                if rows_total:
                    result.tables[table] = rows_total
        return result

    def _commit(
        self, table: str, paths: list[str], ingestion_date: str | None, result: BatchResult
    ) -> int:
        """Convert ``paths`` (one table), refresh its snapshot, then
        acknowledge them; returns the rows written. Anything that raises
        leaves ``paths`` unacknowledged and ``result`` untouched."""
        _, rows, degraded, _, frame = convert_mod._convert_one_table(
            self.spark, table, paths, self.output_prefix, ingestion_date, self.permissive
        )
        self._refresh_snapshot(table, frame)
        self._acknowledge(paths)
        result.fallback_files.extend(degraded)
        return rows

    def _refresh_snapshot(self, table: str, frame: DataFrame) -> None:
        """Merge one acknowledged-batch-to-be's rows into the table's
        versioned snapshot. ``frame`` is the one the conversion wrote
        (``convert.read_table``'s: typed, drift-merged, or all-string
        after a retry or under ``permissive``), so the snapshot holds the
        output's columns and types. Its plan still runs a second time."""
        if self.snapshot_dir is None:
            return
        if isinstance(self.snapshot_keys, dict):
            keys = self.snapshot_keys.get(table)
            if keys is None:
                return  # table not snapshot-configured
        else:
            keys = self.snapshot_keys
        from muninn_avro_to_parquet_spark.operators import cdc

        cdc.materialize_snapshot(
            self.spark, f"{self.snapshot_dir.rstrip('/')}/{table}", frame, list(keys)
        )

    def run(
        self,
        max_batches: int | None = None,
        ingestion_date: str | None = None,
        sleep_fn=time.sleep,
    ) -> list[BatchResult]:
        """Poll until drained (or ``max_batches`` for tests)."""
        out: list[BatchResult] = []
        while True:
            out.append(self.poll_once(ingestion_date=ingestion_date))
            if self.drain_requested:
                break
            if max_batches is not None and len(out) >= max_batches:
                break
            # a capped FULL batch means backlog remains: drain it with
            # back-to-back polls instead of sleeping a whole window
            if (
                self.max_files_per_batch is None
                or len(out[-1].new_files) < self.max_files_per_batch
            ):
                sleep_fn(self.poll_seconds)
        return out
