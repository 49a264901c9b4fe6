"""The manifest store: write-once parquet directories made visible by
one manifest rename.

A stored match state (``plans/incremental.py``) and a checkpoint
workdir of resumable stages (``plans/checkpoint.py``) keep their data
here, and this is the one module that writes, renames or removes
manifests and part directories. The design is Delta Lake's transaction
log (Armbrust et al., VLDB 2020): immutable data files, one atomically
published log entry, and each part's schema stored in that entry, so a
read needs no schema-inference job.
"""

from __future__ import annotations

import json
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _rename(fs, src, dst) -> bool:
    """The publish's one atomic step; a module function so a test can
    fail a publish exactly here."""
    return bool(fs.rename(src, dst))


class _StateDir:
    """A store under a filesystem path. Each part (a state's ``docs``,
    ``keys``, ``idf``, ``clusters``, ``scored``, or a checkpointed
    stage) is a list of directories, each written once under a fresh
    name tagged with its generation. ``manifest-<generation>.json``
    names the current generation: its number, the config the data was
    built under, each part's directories relative to the root (so a
    copied store still loads) and each part's schema, plus whatever
    else its writer records (a state's commit ``id``, the checkpoint
    stage records). A kill at any write leaves the old generation or
    the new one. All I/O goes through Hadoop's FileSystem API, so
    ``file://`` and ``hdfs://`` paths behave alike.

    Writers to one path take turns. The publish refuses a generation
    that already exists, but it checks and then renames, and a local
    rename replaces an existing file: two writers publishing at the
    same moment can lose one commit."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark, self._path = spark, spark._jvm.org.apache.hadoop.fs.Path
        p = self._path(str(path))
        self.fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        # qualified: /x/st, /x/st/ and file:///x/st name one root
        self.root = self.fs.makeQualified(p).toString()

    def ls(self, rel: str = "", dirs: bool = False) -> list[str]:
        """The names under ``rel`` (only the directories if ``dirs``)."""
        p = self._path(f"{self.root}/{rel}")
        if not self.fs.exists(p):
            return []
        return [
            s.getPath().getName() for s in self.fs.listStatus(p)
            if s.isDirectory() or not dirs
        ]

    def manifest(self, generation: int | None = None) -> dict | None:
        """The manifest of ``generation`` (default: the newest), or None."""
        if generation is None:
            found = (re.fullmatch(r"manifest-(\d+)\.json", n) for n in self.ls())
            generation = max((int(m[1]) for m in found if m), default=0)
        p = self._path(f"{self.root}/manifest-{generation:06d}.json")
        if not self.fs.exists(p):
            return None
        stream, io = self.fs.open(p), self.spark._jvm.org.apache.hadoop.io
        try:
            return json.loads(bytes(io.IOUtils.readFullyToByteArray(stream)))
        finally:
            stream.close()

    def write(self, m: dict, part: str, df: DataFrame, append: bool = False) -> str:
        """Write ``df`` to a fresh directory of ``m``'s generation and
        list it in ``m`` under ``part`` (after the part's directories if
        ``append``, else instead of them), with ``df``'s schema. Returns
        the directory's relative name; nothing is visible until ``m`` is
        published."""
        rel = f"{part}/g{m['generation']:06d}-{uuid.uuid4().hex[:12]}"
        df.write.parquet(f"{self.root}/{rel}")
        m["parts"][part] = [*(m["parts"].get(part, []) if append else []), rel]
        m["schemas"][part] = df.schema.jsonValue()
        return rel

    def read(self, m: dict, part: str, rels: list[str] | None = None) -> DataFrame:
        """``part`` of manifest ``m`` (or only its directories ``rels``),
        read with the recorded schema: no inference job."""
        return self.spark.read.schema(StructType.fromJson(m["schemas"][part])).parquet(
            *[f"{self.root}/{r}" for r in (m["parts"][part] if rels is None else rels)]
        )

    def publish(self, manifest: dict) -> None:
        """Make ``manifest`` (``generation``, ``config``, ``parts``,
        ``schemas``) current with one rename. Then remove manifests
        older than the generation before it, and the temporary manifests
        and part directories of this generation or older that neither
        of the two lists (a killed write's leftovers): a store loaded one
        generation back stays readable, and a later generation's writer
        keeps its directories."""
        gen = manifest["generation"]
        name = f"{self.root}/manifest-{gen:06d}.json"
        final, tmp = self._path(name), self._path(f"{name}.{uuid.uuid4().hex}.tmp")
        out = self.fs.create(tmp, False)
        try:
            out.write(bytearray(json.dumps(manifest, indent=1).encode("utf-8")))
        finally:
            out.close()
        if self.fs.exists(final) or not _rename(self.fs, tmp, final):
            self.fs.delete(tmp, False)
            raise ValueError(
                f"generation {gen} of {self.root} already exists: another "
                "commit landed after this one began; load the state again "
                "and redo the change"
            )
        keep = {
            rel for m in (manifest, self.manifest(gen - 1) or {"parts": {}})
            for rels in m["parts"].values() for rel in rels
        }
        for n in self.ls():
            m = re.fullmatch(r"manifest-(\d+)\.json(\..+\.tmp)?", n)
            if m and (int(m[1]) < gen - 1 or m[2] and int(m[1]) <= gen):
                self.fs.delete(self._path(f"{self.root}/{n}"), False)
        for part in self.ls(dirs=True):
            for n in self.ls(part):
                m = re.match(r"g(\d+)-", n)
                if m and int(m[1]) <= gen and f"{part}/{n}" not in keep:
                    self.fs.delete(self._path(f"{self.root}/{part}/{n}"), True)
