"""The chip-object sink, as a Spark 4 Python DataSource WRITER.

The reference persists one gzip JSON object per chip under
``{entity}/{x}-{y}.json`` (``_put_json`` + ``_{entity}_key``,
ceph.py:306-351: the body is gzip of ``json.dumps(records)``, the key
keeps the .json name with gzip as a transfer encoding).  This module
is that sink, through Spark's sink API proper, so it composes with
everything a DataFrame writer does (``write_objects`` below wraps
it; ``storage.read_chip_json`` reads one object back)::

    spark.dataSource.register(ChipObjectsDataSource)
    (df.repartition("cx", "cy")
       .write.format("chipobjects")
       .option("root", root).option("entity", "segment")
       .mode("append").save())

The commit protocol is genuinely all-or-nothing: tasks STAGE each
object under a (job, task-attempt)-unique temp name — the attempt
component means a speculative/zombie first attempt and its retry
never write the same temp file, so no interleaved bytes can ever be
renamed into place — and each task reports its own staged names in
its commit message.  The driver-side ``commit`` first DEDUPES keys
(a split chip staged by two tasks keeps one deterministic winner —
the largest attempt token, i.e. the latest attempt — and the loser
temps are deleted, so no second-rename FileNotFoundError can strand
a partial commit), atomically renames every winning object into
place (overwriting any stale prior object only at commit time),
then publishes a job manifest listing every object; ``abort``
deletes only this job's temp files — previously committed objects
are NEVER touched by a failed job (the first cut wrote finals
directly and its abort destroyed prior commits).
``mode("overwrite")`` additionally removes committed objects absent
from this job, so the directory equals the manifest.  Records are
sorted by their serialized form and gzip runs with ``mtime=0``, so
the raw object bytes are deterministic under shuffle and across
reruns.

One object per chip requires each chip's rows in ONE task — callers
repartition by the chip key first (``write_objects`` below does);
otherwise the last attempt to stage a split key wins with a partial
object, the same contract every object sink has.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (DataSource, DataSourceWriter,
                                    WriterCommitMessage)


def _jsonable(v):
    if hasattr(v, "tolist"):  # numpy array / scalar
        return v.tolist()
    if isinstance(v, (list, tuple)):
        return [_jsonable(x) for x in v]
    return v


@dataclass
class ObjectsCommit(WriterCommitMessage):
    keys: list  # [(x, y, n_records, attempt_token)] staged by this task


class ChipObjectsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "chipobjects"

    def writer(self, schema, overwrite: bool):
        return _ObjectsWriter(dict(self.options), overwrite)


class _ObjectsWriter(DataSourceWriter):
    def __init__(self, options: dict, overwrite: bool):
        self.root = options["root"]
        self.entity = options["entity"]
        self.overwrite = overwrite
        self.token = uuid.uuid4().hex[:12]      # job-unique stage tag

    def _tmp(self, x: int, y: int, attempt: str) -> str:
        import os
        return os.path.join(
            self.root, self.entity,
            f"{x}-{y}.json.{self.token}.{attempt}.tmp")

    def _final(self, x: int, y: int) -> str:
        import os
        return os.path.join(self.root, self.entity, f"{x}-{y}.json")

    @staticmethod
    def _attempt_token() -> str:
        """Task-attempt-unique stage token: a retry and its zombie
        predecessor must never share a temp path.  Zero-padded so
        larger attempt ids sort lexicographically larger (the
        commit-time last-wins tiebreak); falls back to a uuid when
        no TaskContext exists (driver-side unit tests)."""
        try:
            from pyspark import TaskContext
            tc = TaskContext.get()
            if tc is not None:
                return f"{tc.taskAttemptId():020d}"
        except Exception:
            pass
        return "u" + uuid.uuid4().hex[:16]

    def write(self, iterator) -> ObjectsCommit:
        import gzip
        import json
        import os

        from ..storage import PARTITION_KEYS
        kx, ky = PARTITION_KEYS[self.entity]
        os.makedirs(os.path.join(self.root, self.entity),
                    exist_ok=True)
        attempt = self._attempt_token()
        groups: dict[tuple, list] = {}
        for row in iterator:
            d = row.asDict()
            groups.setdefault((int(d[kx]), int(d[ky])), []).append(d)
        keys = []
        for (x, y), recs in groups.items():
            records = sorted(
                ({c: _jsonable(v) for c, v in r.items()} for r in recs),
                key=lambda r: json.dumps(r, sort_keys=True))
            # mtime=0: gzip otherwise stamps wall-clock time into the
            # header, so raw object bytes would differ across reruns
            body = gzip.compress(json.dumps(records).encode("utf-8"),
                                 mtime=0)
            with open(self._tmp(x, y, attempt), "wb") as f:
                f.write(body)
            keys.append((x, y, len(records), attempt))
        return ObjectsCommit(keys=keys)

    def commit(self, messages) -> None:
        import json
        import os
        staged = sorted(k for m in messages if m for k in m.keys)
        # dedupe split-chip keys BEFORE renaming: one winner per
        # (x, y) — the largest attempt token (latest attempt) — so a
        # duplicate key can't raise FileNotFoundError mid-commit and
        # strand a partial rename set.  Loser temps are removed.
        winners: dict[tuple, tuple] = {}
        for x, y, n, att in staged:
            prev = winners.get((x, y))
            if prev is None or att > prev[3]:
                winners[(x, y)] = (x, y, n, att)
        for x, y, n, att in staged:
            if winners[(x, y)][3] != att:
                p = self._tmp(x, y, att)
                if os.path.exists(p):
                    os.remove(p)
        keys = sorted(winners.values())
        for x, y, _, att in keys:
            os.replace(self._tmp(x, y, att), self._final(x, y))
        self._sweep_job_temps()
        if self.overwrite:
            committed = {f"{x}-{y}.json" for x, y, _, _ in keys}
            base = os.path.join(self.root, self.entity)
            for f in os.listdir(base):
                if f.endswith(".json") and not f.startswith("_") \
                        and f not in committed:
                    os.remove(os.path.join(base, f))
        manifest = os.path.join(self.root, self.entity,
                                "_manifest.json")
        with open(manifest, "w") as f:
            json.dump({"entity": self.entity, "n_objects": len(keys),
                       "objects": [[x, y, n] for x, y, n, _ in keys]},
                      f)

    def abort(self, messages) -> None:
        import os
        for m in messages:
            if not m:
                continue
            for x, y, _, att in m.keys:
                p = self._tmp(x, y, att)
                if os.path.exists(p):
                    os.remove(p)
        self._sweep_job_temps()

    def _sweep_job_temps(self) -> None:
        """Remove every staged temp carrying THIS job's token —
        including files from task attempts that never delivered a
        commit message (executor death, zombie speculative attempts),
        which neither the commit loser sweep nor abort's
        message-driven cleanup can see.  The token is job-unique, so
        a concurrent job's staged files are untouched."""
        import os
        base = os.path.join(self.root, self.entity)
        if not os.path.isdir(base):
            return
        marker = f".json.{self.token}."
        for f in os.listdir(base):
            if marker in f and f.endswith(".tmp"):
                try:
                    os.remove(os.path.join(base, f))
                except FileNotFoundError:
                    pass


def write_objects(df, root: str, entity: str,
                  mode: str = "append") -> None:
    """Convenience wrapper: register the source (idempotent),
    repartition on the chip key (one task per chip → whole objects),
    and save.  ``mode="overwrite"`` removes committed objects absent
    from this job at commit time."""
    spark = df.sparkSession
    try:
        spark.dataSource.register(ChipObjectsDataSource)
    except Exception:
        pass                                    # already registered
    from ..storage import PARTITION_KEYS
    kx, ky = PARTITION_KEYS[entity]
    (df.repartition(kx, ky)
       .write.format("chipobjects")
       .option("root", root).option("entity", entity)
       .mode(mode).save())
