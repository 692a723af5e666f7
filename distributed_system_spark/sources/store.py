"""DatasetStore — the reference's SDFS file semantics on Spark datasets.

The reference's live storage layer (mock_sdfs_client.cpp) models a file
as an ordered list of numbered *pieces*: ``put`` resets to one piece,
``append`` adds a piece, ``get`` concatenates all pieces in order
(mock_sdfs_client.h:58-63; mock_sdfs_client.cpp:102-110, 285-288).
Directories hold files/subdirs with ``mkdir/rmdir/ls_files/ls_dirs``
(sdfs_client.h:32-37), and each file carries a string→string metadata
map written atomically with put/append (sdfs.h:8).

Spark-native mapping (not a port):

- file      → a dataset (directory of parquet/text part-files)
- put       → ``mode("overwrite")`` write
- append    → ``mode("append")`` write (each append = new part files,
              exactly the reference's new-piece semantics)
- get       → ``spark.read`` over the directory (Spark concatenates)
- metadata  → a ``_dss_metadata.json`` sidecar (the reference's
              per-file map; Spark table properties at catalog scale).
              It also records the piece count and, for parquet, the
              dataset's on-disk ``schema`` (``df.schema`` made
              nullable, as Spark writes it), which ``get`` hands to
              the reader so no schema-inference job runs.  ``put``
              records it; ``append`` keeps it only if the new piece's
              on-disk schema is the same, else drops it; ``compact``
              records the rewritten dataset's.  Without a recorded
              schema (text stores, sidecar-less datasets, after a
              schema-changing append) Spark infers it, as it would.
- ls_files / ls_dirs / get_num_shards → filesystem listing

Atomicity/exactly-once (the reference's append-permission protocol,
mj_master.cpp:158-194) is inherited from Spark's output committer:
task attempts write to staging paths and commit by rename, so replayed
tasks never double-append — asserted in tests rather than rebuilt.

Every operation — dataset reads/writes AND catalog ops (ls, delete,
rename, metadata sidecars, the event log) — goes through the Hadoop
FileSystem API resolved from the root URI, so the store works
unchanged on ``file:/``, ``hdfs://``, ``s3a://`` etc.  The one
cluster caveat left: sidecar read-merge-replace and compact's
rename-aside swap are single-writer protocols (the reference
serializes the same ops via its master).
"""

from __future__ import annotations

import json
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_META_NAME = "_dss_metadata.json"
_EVENTS_DIR = "_dss_events"


def escape_key(key: str) -> str:
    """Escape an arbitrary string key into one filesystem-safe path
    component — the reference's convert_path scheme exactly
    (sdfs.cpp:34-48): ``%`` → ``%%``, ``/`` → ``%|``.

    MapleJuice keys become dataset names (the reference writes one
    intermediate file per key, mj_worker.cpp:354-365), and keys are
    arbitrary user-exe output — spaces, slashes, percents included.
    ``%`` must be escaped first so unescaping is unambiguous.
    """
    return key.replace("%", "%%").replace("/", "%|")


def unescape_key(name: str) -> str:
    """Inverse of :func:`escape_key` (reference deconvert_path,
    sdfs.cpp:50-63): left-to-right, ``%%`` → ``%``, ``%|`` → ``/``."""
    out: list[str] = []
    i = 0
    while i < len(name):
        if name[i] == "%" and i + 1 < len(name):
            nxt = name[i + 1]
            if nxt == "%":
                out.append("%")
                i += 2
                continue
            if nxt == "|":
                out.append("/")
                i += 2
                continue
        out.append(name[i])
        i += 1
    return "".join(out)


class _HadoopFs:
    """Thin shim over org.apache.hadoop.fs.FileSystem (py4j).

    Resolved from the root URI, so a ``file:/`` root exercises the
    exact call path an ``hdfs://`` root would.
    """

    def __init__(self, spark: SparkSession, root: str):
        jvm = spark._jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        self._IOUtils = jvm.org.apache.commons.io.IOUtils
        self.fs = self._Path(root).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )

    def exists(self, p: str) -> bool:
        return self.fs.exists(self._Path(p))

    def is_dir(self, p: str) -> bool:
        return self.exists(p) and self.fs.getFileStatus(
            self._Path(p)
        ).isDirectory()

    def list_status(self, p: str) -> list[tuple[str, bool]]:
        """[(child name, is_dir)] for a directory, [] otherwise."""
        if not self.is_dir(p):
            return []
        return [
            (st.getPath().getName(), st.isDirectory())
            for st in self.fs.listStatus(self._Path(p))
        ]

    def listdir(self, p: str) -> list[str]:
        return [name for name, _ in self.list_status(p)]

    def mkdirs(self, p: str) -> None:
        self.fs.mkdirs(self._Path(p))

    def delete(self, p: str) -> None:
        self.fs.delete(self._Path(p), True)

    def rename(self, src: str, dst: str) -> None:
        if not self.fs.rename(self._Path(src), self._Path(dst)):
            raise OSError(f"rename failed: {src} -> {dst}")

    def read_text(self, p: str) -> str:
        stream = self.fs.open(self._Path(p))
        try:
            return self._IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()

    def write_text(self, p: str, text: str) -> None:
        out = self.fs.create(self._Path(p), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def replace_text(self, p: str, text: str) -> None:
        """Write-temp-then-rename, the reference's atomic metadata
        protocol (mock_sdfs_client.cpp:192-202).  HDFS rename does not
        overwrite, so the previous file is deleted first — atomic
        enough under the store's single-writer contract."""
        tmp = f"{p}.tmp-{uuid.uuid4().hex[:8]}"
        self.write_text(tmp, text)
        if self.exists(p):
            self.fs.delete(self._Path(p), False)
        self.rename(tmp, p)


class DatasetStore:
    """Hierarchical dataset store rooted at a base directory/URI.

    Paths use the reference's hierarchical form (``dir/sub/name``).
    Format is parquet by default; ``format="text"`` matches the
    reference's newline-record model (one string column ``value``).
    """

    def __init__(self, spark: SparkSession, root: str, fmt: str = "parquet"):
        self.spark = spark
        self.root = root.rstrip("/")
        self.fmt = fmt
        self._fs = _HadoopFs(spark, self.root)
        self._fs.mkdirs(self.root)

    # -- path helpers -------------------------------------------------
    def _abs(self, path: str) -> str:
        path = path.strip("/")
        if ".." in path.split("/"):
            raise ValueError(f"path escapes store root: {path!r}")
        return f"{self.root}/{path}"

    def exists(self, path: str) -> bool:
        return self._fs.exists(self._abs(path))

    # -- op event log (mock_sdfs_master.cpp:35-111) -------------------
    def _log_event(
        self,
        op: str,
        path: str,
        piece: int | None = None,
        metadata: dict[str, str] | None = None,
    ) -> None:
        """Append one event file per operation to ``_dss_events/`` —
        the Spark-first form of the reference's op callbacks
        (on_put/on_append/on_get/on_del, mock_sdfs_master.cpp:35-111):
        a file-source stream over the log IS the callback delivery,
        and filtering on metadata keys reproduces the watched-key
        subscription.  One file per event so each microbatch sees
        exactly the new ops.  ``metadata`` is the dataset's user map
        when the caller has already read the sidecar."""
        if metadata is None:
            metadata = self.get_metadata(path) if self.exists(path) else {}
        event = {
            "op": op,
            "path": path,
            "piece": piece,
            "ts": time.time_ns(),
            "metadata": metadata,
        }
        log_dir = self.events_path()
        self._fs.mkdirs(log_dir)
        name = f"{event['ts']}-{uuid.uuid4().hex[:8]}.json"
        # hidden while in flight (spark's file sources ignore dotfiles)
        tmp = f"{log_dir}/.{name}"
        self._fs.write_text(tmp, json.dumps(event))
        self._fs.rename(tmp, f"{log_dir}/{name}")

    def events_path(self) -> str:
        return f"{self.root}/{_EVENTS_DIR}"

    # -- file ops (put/append/get/del — sdfs_client.h:20-31) ----------
    def put(self, df: DataFrame, path: str, metadata: dict[str, str] | None = None) -> None:
        """Overwrite dataset `path` with df (reference: put resets
        pieces to 1, mock_sdfs_client.cpp:102-110)."""
        writer = df.write.format(self.fmt).mode("overwrite")
        writer.save(self._abs(path))
        self._write_sidecar(
            path, pieces=1, user=metadata or {}, schema=self._disk_schema(df)
        )
        self._log_event("put", path, piece=0)

    def append(self, df: DataFrame, path: str, metadata: dict[str, str] | None = None) -> None:
        """Append a new piece (reference: append → num_pieces++).

        The sidecar read-merge-replace assumes a single writer per
        dataset (the reference serializes via its master; Spark jobs
        via the driver). Concurrent appends from separate drivers
        need external coordination.

        The recorded schema survives only an append whose on-disk
        schema equals it; any other append drops it, so ``get`` falls
        back to Spark's own inference over the mixed pieces.
        """
        df.write.format(self.fmt).mode("append").save(self._abs(path))
        side = self._read_sidecar(path)
        user = side.get("user", {})
        if metadata:
            user.update(metadata)
        schema = side.get("schema")
        if schema != self._disk_schema(df):
            schema = None
        self._write_sidecar(
            path,
            pieces=int(side.get("pieces", 0)) + 1,
            user=user,
            schema=schema,
        )
        # reference passes index = num_pieces - 1 to append callbacks
        self._log_event("append", path, piece=int(side.get("pieces", 0)))

    def compact(self, path: str, target_partitions: int = 1) -> int:
        """Merge all pieces into ``target_partitions`` files and reset
        the piece count to 1 — the put-after-appends pattern readers
        of a many-piece file want (the reference compacts implicitly
        whenever a client gets then re-puts, mock_sdfs_client.cpp:
        275-303 then 187-265).

        At scale this is the small-files compaction every append-heavy
        table needs: N appends leave O(N x tasks) files whose per-file
        open/footer cost dominates scans; coalescing to size-targeted
        partitions restores scan throughput. Returns the part-file
        count before compaction (for the caller's bookkeeping).

        Single-writer, like append: compaction is a maintenance op,
        not a concurrent-write protocol.
        """
        before = len(
            [
                f
                for f in self._fs.listdir(self._abs(path))
                if not f.startswith(("_", "."))
            ]
        )
        meta = self.get_metadata(path)
        df = self.get(path).coalesce(target_partitions)
        # stage-then-swap: never leave the dataset half-overwritten if
        # the rewrite dies mid-way (the committer protects each write;
        # the swap protects the read path between the two writes)
        staged = self._abs(path) + ".compacting"
        df.write.format(self.fmt).mode("overwrite").save(staged)
        final = self._abs(path)
        old = final + ".old"
        # Swap via rename-aside (not delete-then-rename): the dataset
        # is only ever absent for the instant between two renames, a
        # crash strands a complete copy at *.old / *.compacting (both
        # ignored by listings and cleaned up on the next compact), and
        # no state loses data.
        if self._fs.exists(old):
            self._fs.delete(old)
        self._fs.rename(final, old)
        self._fs.rename(staged, final)
        self._fs.delete(old)
        # every rewritten file carries the read's schema, whether it
        # was recorded or inferred
        self._write_sidecar(
            path, pieces=1, user=meta, schema=self._disk_schema(df)
        )
        return before

    def get(self, path: str) -> DataFrame:
        """Read the dataset; Spark concatenates all pieces/part-files.

        With a schema recorded in the sidecar the reader is given it,
        so the read launches no schema-inference job."""
        side = self._read_sidecar(path)
        reader = self.spark.read.format(self.fmt)
        if "schema" in side:
            reader = reader.schema(StructType.fromJson(side["schema"]))
        df = reader.load(self._abs(path))
        self._log_event("get", path, metadata=side.get("user", {}))
        return df

    def delete(self, path: str) -> None:
        target = self._abs(path)
        if self._fs.exists(target):
            self._log_event("del", path)  # metadata still readable
            self._fs.delete(target)

    # -- directory ops (sdfs_client.h:32-39) ---------------------------
    def mkdir(self, path: str) -> None:
        self._fs.mkdirs(self._abs(path))

    def rmdir(self, path: str) -> None:
        self.delete(path)

    def _is_dataset(self, p: str) -> bool:
        return any(
            f.startswith("part-") or f == "_SUCCESS"
            for f in self._fs.listdir(p)
        )

    def ls_files(self, path: str = "") -> list[str]:
        """Datasets directly under `path` (dirs containing part files)."""
        base = self._abs(path) if path else self.root
        out = []
        for name, is_dir in sorted(self._fs.list_status(base)):
            if name.endswith((".compacting", ".old")) or name.startswith("_"):
                continue  # compact leftovers / internal dirs (_dss_events)
            if is_dir and self._is_dataset(f"{base}/{name}"):
                out.append(name)
        return out

    def ls_dirs(self, path: str = "") -> list[str]:
        base = self._abs(path) if path else self.root
        return sorted(
            name
            for name, is_dir in self._fs.list_status(base)
            if is_dir
            and not name.endswith((".compacting", ".old"))
            and not name.startswith("_")
            and not self._is_dataset(f"{base}/{name}")
        )

    def get_num_shards(self, path: str) -> int:
        """Logical piece count: 1 after put, +1 per append — the
        reference's num_pieces semantics (mock_sdfs_client.cpp:527-543).
        One put/append can emit many physical part files, so the count
        lives in the sidecar, not the file listing; datasets written
        by other tools (no sidecar) fall back to the part-file count.
        """
        side = self._read_sidecar(path)
        if "pieces" in side:
            return int(side["pieces"])
        return sum(
            1
            for f in self._fs.listdir(self._abs(path))
            if f.startswith("part-")
        )

    # -- metadata (sdfs.h:8; mock_sdfs_client.cpp:204, 245) ------------
    def _disk_schema(self, df: DataFrame) -> dict | None:
        """The schema a parquet write of ``df`` leaves on disk (every
        field, element and value nullable), as sidecar JSON; None for
        other formats."""
        if self.fmt != "parquet":
            return None
        return df.schema.toNullable().jsonValue()

    def _write_sidecar(
        self,
        path: str,
        pieces: int,
        user: dict[str, str],
        schema: dict | None = None,
    ) -> None:
        self._fs.mkdirs(self._abs(path))
        side = {"pieces": pieces, "user": user}
        if schema is not None:
            side["schema"] = schema
        # Temp-file + rename mirrors the reference's atomic metadata
        # write protocol (mock_sdfs_client.cpp:192-202).
        self._fs.replace_text(
            f"{self._abs(path)}/{_META_NAME}", json.dumps(side)
        )

    def _read_sidecar(self, path: str) -> dict:
        meta_path = f"{self._abs(path)}/{_META_NAME}"
        if not self._fs.exists(meta_path):
            return {}
        return json.loads(self._fs.read_text(meta_path))

    def get_metadata(self, path: str) -> dict[str, str]:
        return self._read_sidecar(path).get("user", {})
