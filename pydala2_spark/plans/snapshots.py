"""Snapshot manifests: atomic multi-file commits, time travel, rollback.

The reference's datasets are "whatever files are in the directory"
(`/root/reference/pydala/dataset.py:121-170`) — a multi-file write
that dies halfway leaves a half-visible dataset, and there is no way
to read yesterday's state. This layer adds the missing transactional
story with the same mechanism Iceberg/Delta use, reduced to its core:
readers trust a MANIFEST, never the directory listing.

Layout::

    <dataset>/part-*.parquet            data files (plain parquet layout)
    <dataset>/_snapshots/v00000001.json one manifest per committed version
    <dataset>/_staging_<token>/         per-commit staging (transient)

A commit writes its data files through the append's publish step
(``sources/writer.publish_staged``: a private staging directory, one
retry of a failed write, then a move into the dataset root, invisible
to snapshot readers — they only follow manifests), then publishes a
manifest via write-temp + atomic rename. Rename-to-existing fails on
Hadoop filesystems, which gives optimistic concurrency for free: every
operation claims its version through one loop (``_commit``) that
re-reads the head after a lost race, re-derives its file list against
the new parent, and retries the next version number. A crash at ANY
point leaves every prior version readable. A write or move that fails
publishes no manifest: a move failure deletes the staging directory
and raises the append's :class:`~pydala2_spark.errors.PartialWriteError`,
and the files already moved are orphans, which ``vacuum`` removes
because no manifest references them. Only a process that dies
mid-publish leaves its ``_staging_<token>`` directory behind; vacuum
does not list ``_``-prefixed directories, so that one is removed by
hand.

OBJECT STORES: the rename-based optimistic lock requires atomic
fail-on-existing rename, which object stores do not provide (S3A
rename is a client-side copy+delete behind a non-atomic existence
check — two racing committers can both "win" a version and one
manifest silently overwrites the other). The commit path therefore
routes by scheme: on a scheme in :data:`NON_ATOMIC_RENAME_SCHEMES`
a commit REFUSES to run (:class:`UnsafeCommitError`) unless the
dataset was built with a ``commit_publisher`` — an atomic
create-if-absent primitive such as S3 conditional PUT
(``If-None-Match: *``; :func:`s3_conditional_put_publisher` wraps
boto3) or a DynamoDB/commit-service lock, which is exactly how
Delta (S3 LogStore) and Iceberg (lock manager / conditional write)
solve the same race. Data-file staging renames need no such care:
the names are private until a manifest references them, so a
copy+delete "rename" there is an efficiency caveat, not a
correctness one.

At 100 TB nothing here scales with data volume: commits move file
*names*, manifests hold file *lists* (one string per file), and reads
hand Spark the exact file set — so time-travel reads get the same
Catalyst pushdown/pruning as any parquet scan, with ``basePath`` set
so hive partition columns survive.
"""

from __future__ import annotations

import json
import posixpath
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pydala2_spark.frames import materialize

_MANIFEST_FMT = "v{:08d}.json"
_MAX_COMMIT_RETRIES = 50

# schemes whose Hadoop connector implements rename as copy+delete with
# a non-atomic existence check — rename-to-existing does NOT fail
# atomically there, so it cannot serve as the optimistic lock
NON_ATOMIC_RENAME_SCHEMES = frozenset(
    {"s3", "s3a", "s3n", "gs", "wasb", "wasbs", "abfs", "abfss", "oss", "cos", "swift"}
)


class SnapshotConflictError(RuntimeError):
    """Raised when a commit cannot win the manifest race after retries."""


class UnsafeCommitError(RuntimeError):
    """Raised when a manifest publish would rely on a non-atomic
    primitive (object-store rename) — committing anyway could silently
    lose a racing writer's version. Supply a ``commit_publisher``."""


def s3_conditional_put_publisher(client=None):
    """A ``commit_publisher`` backed by S3 conditional PUT
    (``If-None-Match: *`` — atomic create-if-absent, the primitive S3
    added for exactly this commit pattern). Returns a callable
    ``(uri, payload) -> bool``: True when this writer created the
    object, False when it already existed (a racing committer won —
    retry at the next version).

    ``client`` is a boto3-style S3 client (injectable for tests /
    S3-compatible endpoints); when None, boto3 must be installed and
    credentials resolve from the environment the way the s3a
    connector's do.
    """
    if client is None:
        try:
            import boto3  # optional dependency, resolved at call time
        except ImportError as e:  # pragma: no cover - env without boto3
            raise ImportError(
                "s3_conditional_put_publisher needs boto3 (or pass an "
                "s3-compatible client=)"
            ) from e
        client = boto3.client("s3")

    def publish(uri: str, payload: str) -> bool:
        import re

        m = re.match(r"^[A-Za-z0-9+.-]+://([^/]+)/(.+)$", uri)
        if not m:
            raise ValueError(f"not a bucket/key URI: {uri!r}")
        bucket, key = m.group(1), m.group(2)
        try:
            client.put_object(
                Bucket=bucket,
                Key=key,
                Body=payload.encode("utf-8"),
                IfNoneMatch="*",
            )
            return True
        except Exception as e:  # ClientError without importing botocore
            code = str(
                getattr(e, "response", {}).get("Error", {}).get("Code", "")
            )
            status = getattr(e, "response", {}).get(
                "ResponseMetadata", {}
            ).get("HTTPStatusCode")
            if code == "PreconditionFailed" or status in (412, 409):
                return False  # object exists: the race is lost, not broken
            raise

    return publish


class SnapshotDataset:
    """Versioned view over a parquet dataset directory.

    Plain ``spark.read.parquet(path)`` still works on the directory but
    sees uncommitted debris after crashes; the snapshot contract is
    that readers use :meth:`read` (optionally with ``version=``).

    ``commit_publisher``: atomic create-if-absent hook
    ``(uri, payload) -> bool`` used to publish manifests instead of
    write-temp + rename. REQUIRED on object-store schemes (see module
    docstring); on atomic-rename filesystems it is optional and wins
    over the rename path when given.
    """

    def __init__(self, spark: SparkSession, path: str, commit_publisher=None):
        self.spark = spark
        self.path = path.rstrip("/")
        self.snapshots_dir = f"{self.path}/_snapshots"
        self.commit_publisher = commit_publisher

    @classmethod
    def for_path(cls, spark: SparkSession, path: str, commit_publisher=None):
        """Construct with ``commit_publisher`` applied ONLY where it is
        needed (object-store schemes). Deployment-wide wiring (catalog,
        streaming sinks, the Dataset facade) goes through here so a
        configured S3 hook cannot break local/HDFS datasets — their
        atomic rename lock is both safe and faster, and an S3
        conditional-PUT publisher would reject their scheme-less
        manifest paths outright. Direct construction keeps the
        publisher unconditionally (explicit per-dataset choice)."""
        ds = cls(spark, path, commit_publisher=commit_publisher)
        if ds._effective_scheme() not in NON_ATOMIC_RENAME_SCHEMES:
            ds.commit_publisher = None
        return ds

    # -- manifest plumbing ------------------------------------------------

    def versions(self) -> list[int]:
        from pydala2_spark.plans.fs import list_files, path_exists

        if not path_exists(self.spark, self.snapshots_dir):
            return []
        out = []
        for f in list_files(self.spark, self.snapshots_dir, suffixes=(".json",)):
            name = posixpath.basename(f)
            if name.startswith("v") and name.endswith(".json"):
                try:
                    out.append(int(name[1:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def current_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _manifest_path(self, version: int) -> str:
        return f"{self.snapshots_dir}/{_MANIFEST_FMT.format(version)}"

    def _read_manifest(self, version: int) -> dict:
        from pydala2_spark.plans.fs import read_text

        return json.loads(read_text(self.spark, self._manifest_path(version)))

    def _effective_scheme(self) -> str | None:
        """The scheme commits will actually publish through: the
        path's own scheme, or — for scheme-less paths — the scheme of
        the Hadoop-QUALIFIED path, so ``fs.defaultFS=s3a://bucket``
        deployments can't slip past the guard on a bare ``/warehouse``
        path. Qualification needs the scheme's Hadoop connector; if it
        can't resolve, fall back to the literal spelling."""
        from pydala2_spark.plans.fs import qualified, uri_scheme

        scheme = uri_scheme(self.path)
        if scheme is not None:
            return scheme
        try:
            return uri_scheme(qualified(self.spark, self.path))
        except Exception:
            return None

    def _publish_guard(self) -> None:
        """Refuse the rename-based publish on schemes where rename is
        not an atomic lock — raised BEFORE any data staging so a
        misconfigured 100 TB commit fails in milliseconds, not after
        the write."""
        scheme = self._effective_scheme()
        if self.commit_publisher is None and scheme in NON_ATOMIC_RENAME_SCHEMES:
            raise UnsafeCommitError(
                f"snapshot commit on {scheme}:// needs an atomic "
                f"create-if-absent commit_publisher (rename there is "
                f"copy+delete behind a non-atomic existence check — two "
                f"racing committers could both claim the same version and "
                f"one manifest would silently overwrite the other). Pass "
                f"SnapshotDataset(..., commit_publisher="
                f"s3_conditional_put_publisher()) or a commit-service lock."
            )

    def _try_publish(self, manifest: dict) -> bool:
        """Atomically claim a version slot; False when another commit
        won it."""
        return self._publish_file(
            self._manifest_path(manifest["version"]),
            json.dumps(manifest, sort_keys=True),
        )

    def _publish_file(self, final: str, payload: str) -> bool:
        """Atomic create-if-absent publish of ONE metadata file (shared
        by version manifests and tags). Routes by capability: an
        injected ``commit_publisher`` (atomic create-if-absent, e.g. S3
        conditional PUT) when present, else write-temp + atomic
        rename — and REFUSES the rename path on schemes where rename is
        not an atomic lock."""
        from pydala2_spark.plans.fs import (
            delete_paths,
            mkdirs,
            path_exists,
            rename,
            write_text,
        )
        if self.commit_publisher is not None:
            # the publisher IS the lock: no pre-check needed (and a
            # pre-check would be the very TOCTOU this path removes)
            return bool(self.commit_publisher(final, payload))
        self._publish_guard()
        mkdirs(self.spark, self.snapshots_dir)
        if path_exists(self.spark, final):
            return False
        # stage OUTSIDE _snapshots/: a tmp file renamed away mid-listing
        # would make a concurrent versions() iterator throw
        tmp_dir = f"{self.snapshots_dir}__tmp"
        mkdirs(self.spark, tmp_dir)
        tmp = f"{tmp_dir}/{uuid.uuid4().hex}.json"
        write_text(self.spark, tmp, payload)
        if rename(self.spark, tmp, final):
            return True
        delete_paths(self.spark, [tmp])
        return False

    # -- dataset-compatible surface (Catalog.files/schema/write_table) ----

    def files(self) -> list[str]:
        """Absolute paths of the CURRENT version's data files (the
        dataset-facade contract; snapshot semantics: manifest, not
        directory listing)."""
        v = self.current_version()
        if v is None:
            return []
        return [f"{self.path}/{rel}" for rel in self._read_manifest(v)["files"]]

    @property
    def schema(self):
        return self.read().schema

    def write_to_dataset(self, data, mode: str = "append", **kwargs) -> None:
        """Dataset-facade write: a snapshot COMMIT (append/overwrite).
        Accepts the same input families as the writer."""
        from pydala2_spark.sources.writer import to_spark_df

        df = to_spark_df(self.spark, data)
        allowed = {"partition_by", "compression", "max_rows_per_file", "extra"}
        unsupported = sorted(set(kwargs) - allowed)
        if unsupported:
            raise ValueError(
                f"snapshot write does not support {unsupported}; supported "
                f"options: {sorted(allowed)} — apply normalization (sort/"
                f"dedup/casts) to the DataFrame before committing"
            )
        self.commit(df, mode=mode, **kwargs)

    def history(self) -> list[dict]:
        """Manifest metadata, oldest first (files list omitted)."""
        out = []
        for v in self.versions():
            m = self._read_manifest(v)
            out.append(
                {
                    "version": m["version"],
                    "parent": m["parent"],
                    "operation": m["operation"],
                    "n_files": len(m["files"]),
                    "ts": m["ts"],
                }
            )
        return out

    # -- commit -----------------------------------------------------------

    def _commit(self, operation: str, step, schema_json: str | None = None, **fields) -> dict | None:
        """The one optimistic commit loop. Each try reads the head and
        calls ``step(head_manifest)`` (None when there is no version
        yet), which returns the new version's files — or None to
        abandon the commit, or raises to abort it. The manifest carries
        ``operation``, those files, ``schema_json`` (the head's when
        None) and ``fields``; :meth:`_try_publish` claims the version,
        and a lost race re-reads the head."""
        for _ in range(_MAX_COMMIT_RETRIES):
            head = self.current_version()
            m = self._read_manifest(head) if head is not None else None
            files = step(m)
            if files is None:
                return None
            manifest = {
                "version": (head or 0) + 1,
                "parent": head,
                "operation": operation,
                "files": sorted(set(files)),
                "schema_json": m["schema_json"] if schema_json is None else schema_json,
                "ts": time.time(),
                **fields,
            }
            if self._try_publish(manifest):
                return manifest
        raise SnapshotConflictError(
            f"{operation} lost the manifest race {_MAX_COMMIT_RETRIES} times at {self.path!r}"
        )

    def _stage(
        self, df: DataFrame, compression: str, max_rows_per_file: int, partition_by=None
    ) -> list[str]:
        """Move ``df``'s rows into the root as unreferenced files through
        the append's publish step and return their root-relative paths.
        No manifest can adopt files left staged, so a failed move
        deletes the staging dir before re-raising the
        :class:`~pydala2_spark.errors.PartialWriteError` (its
        ``staging_dir`` is then None); the files already moved are
        orphans :meth:`vacuum` reclaims."""
        from pydala2_spark.errors import PartialWriteError
        from pydala2_spark.plans.fs import delete_paths
        from pydala2_spark.sources.writer import parquet_writer, publish_staged

        w = parquet_writer(
            df,
            compression=compression,
            max_rows_per_file=max_rows_per_file,
            partition_by=partition_by,
        )
        try:
            return publish_staged(self.spark, w, self.path)
        except PartialWriteError as e:
            delete_paths(self.spark, [e.staging_dir])
            e.staging_dir = None
            raise

    def commit(
        self,
        df: DataFrame,
        mode: str = "append",
        partition_by: list[str] | None = None,
        compression: str = "zstd",
        max_rows_per_file: int = 10_000_000,
        extra: dict | None = None,
    ) -> dict:
        """Atomically publish ``df``'s rows as the next version.

        ``append`` keeps the parent's files; ``overwrite`` starts the
        new version from only this commit's files (older files remain
        on disk for time travel until :meth:`vacuum`). ``extra`` is
        caller metadata recorded verbatim in the manifest (e.g. a
        streaming batch id). Returns the published manifest.
        """
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        self._publish_guard()
        own = self._stage(df, compression, max_rows_per_file, partition_by)
        return self._commit(
            mode,
            lambda m: (m["files"] if mode == "append" and m else []) + own,
            df.schema.json(),
            added=sorted(own),
            **({"extra": extra} if extra else {}),
        )

    def last_stream_batch(self, checkpoint_id: str) -> int | None:
        """Newest stream batch id this dataset has committed for the
        given checkpoint — reverse-scans manifests and stops at the
        first hit (batch ids are monotone per checkpoint), so the
        common replay probe reads O(1) manifests."""
        for v in reversed(self.versions()):
            extra = self._read_manifest(v).get("extra") or {}
            stream = extra.get("stream") or {}
            if stream.get("checkpoint") == checkpoint_id:
                return int(stream["batch_id"])
        return None

    # -- row-level DML (file-selective manifest swap) -----------------------

    def delete_where(self, predicate, **kw) -> dict:
        """Row-level DELETE on the snapshot table: SQL 3VL semantics
        (NULL-predicate rows survive), published as a NEW VERSION whose
        manifest drops the matched files and adds their rewritten
        survivors — untouched files are carried by NAME, old versions
        keep time-traveling to the pre-delete bytes, and ``vacuum``
        reclaims the replaced files once no retained version references
        them. The dir-dataset sibling is
        :func:`pydala2_spark.operators.merge.delete_where`; HERE the
        swap is atomic (one manifest publish), so readers never see a
        half-deleted state."""
        return self._mutate_where(predicate, None, **kw)

    def update_where(self, predicate, set: dict, **kw) -> dict:
        """Row-level UPDATE on the snapshot table (SET evaluates
        against the pre-update row), published as a new version via the
        same file-selective manifest swap as :meth:`delete_where`."""
        if not set:
            raise ValueError("update_where needs at least one SET assignment")
        return self._mutate_where(predicate, set, **kw)

    def _mutate_where(
        self,
        predicate,
        assigns: dict | None,
        partition_by: list[str] | None = None,
        compression: str = "zstd",
        max_rows_per_file: int = 10_000_000,
    ) -> dict:
        """Shared DELETE/UPDATE core. 100 TB shape: one pushed-down
        discovery scan over the CURRENT version (min/max prunes clean
        files), one rewrite scan of only the matched files, one
        manifest publish. Cost scales with data under the predicate;
        the publish is O(1). A concurrent commit between discovery and
        publish loses the optimistic race cleanly
        (SnapshotConflictError — re-run against the new head; blind
        retry could resurrect rows a racing overwrite removed)."""
        from pydala2_spark.operators.merge import _delete_discovery, _filter_to_files, _replacement
        from pydala2_spark.plans.fs import decoded_path_col, qualified, schemeless

        self._publish_guard()
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        head = self.current_version()
        if head is None:
            raise ValueError(f"no snapshots at {self.path!r}")
        m = self._read_manifest(head)
        df = self.read(head)
        if assigns is not None:
            missing = [c for c in assigns if c not in df.columns]
            if missing:
                raise ValueError(f"SET columns not in target: {missing}")
        # Root-relative spelling of each row's source file, derived
        # ONCE and used for BOTH discovery and touched-row selection
        # (a single expression cannot disagree with itself — a relative
        # or non-normalized self.path previously made the Python-side
        # split() and the Column-side substring() compute different rel
        # paths, emptying the replacement while still dropping the
        # matched files from the manifest: silent row loss). The base
        # comes from Hadoop makeQualified, the same qualification
        # _metadata.file_path carries, so './', '//' and relative
        # spellings of self.path all land on the manifest's spelling;
        # the path itself comes back URI-encoded (a hive dir holding a
        # space or an escaped ':') and is decoded to the listing's.
        base = schemeless(qualified(self.spark, self.path)).rstrip("/") + "/"
        tagged = df.withColumn("__f", F.col("_metadata.file_path")).withColumn(
            "__rel",
            F.substring(decoded_path_col(F.col("__f")), len(base) + 1, 1 << 30),
        )
        per_file = _delete_discovery(tagged, pred).groupBy("__rel").count().collect()
        matched_rel = sorted(r["__rel"] for r in per_file)
        n_rows = int(sum(r["count"] for r in per_file))
        if not matched_rel:
            return {"rows": 0, "matched_files": [], "version": head}

        matched_set = set(matched_rel)
        # Belt-and-braces: every matched rel path must name a file the
        # current manifest actually tracks — if the base/rel derivation
        # ever drifts from the manifest spelling, refuse loudly instead
        # of publishing a version that drops files it failed to rewrite.
        unknown = matched_set - set(m["files"])
        if unknown:
            raise ValueError(
                f"row-level mutation matched files the version-{head} "
                f"manifest does not track (path normalization drift?): "
                f"{sorted(unknown)[:5]}"
            )
        # touched-file selection over the SAME __rel column, and the
        # replacement rows of the directory dataset's row-level DML
        replacement = _replacement(
            _filter_to_files(tagged, matched_rel, "__rel"), pred, assigns, ["__f", "__rel"]
        )
        own = self._stage(replacement, compression, max_rows_per_file, partition_by)
        operation = "delete_where" if assigns is None else "update_where"

        def step(cur: dict | None) -> list[str]:
            # no retry: blind re-derivation could resurrect rows a
            # racing overwrite removed
            if cur is None or cur["version"] != head:
                raise SnapshotConflictError(
                    f"concurrent commit won version {head + 1} at {self.path!r} "
                    f"during row-level {operation}; re-run against "
                    f"the new head (staged files are unreferenced and will be "
                    f"vacuumed as orphans)"
                )
            return [f for f in cur["files"] if f not in matched_set] + own

        self._commit(operation, step, added=sorted(own), removed=matched_rel)
        return {"rows": n_rows, "matched_files": matched_rel, "version": head + 1}

    # -- tags (named immutable versions) -----------------------------------

    def tag(self, name: str, version: int | None = None) -> dict:
        """Pin a NAME to a version (default: current) — the audit/
        release primitive ('the corpus the model trained on'): readers
        say ``read(tag='train-v3')`` and keep resolving the same bytes
        no matter how many commits follow. Tags are IMMUTABLE —
        published through the same atomic create-if-absent path as
        version manifests (so two racing taggers cannot both claim a
        name), and re-pointing requires an explicit ``delete_tag`` +
        re-tag. Tag files live beside manifests; ``vacuum`` never
        removes a tagged version's files while the tag exists (tagged
        versions count as referenced)."""
        import re as _re

        if not _re.match(r"^[A-Za-z0-9][A-Za-z0-9._-]*$", name or ""):
            raise ValueError(f"invalid tag name: {name!r}")
        if version is None:
            version = self.current_version()
        if version is None or version not in self.versions():
            raise ValueError(f"no such version to tag: {version!r}")
        payload = {"tag": name, "version": int(version), "ts": time.time()}
        final = f"{self.snapshots_dir}/tag-{name}.json"
        if not self._publish_file(final, json.dumps(payload, sort_keys=True)):
            raise SnapshotConflictError(
                f"tag {name!r} already exists at {self.path!r} "
                f"(tags are immutable; delete_tag first to re-point)"
            )
        return payload

    def tags(self) -> dict[str, int]:
        """All tags as ``{name: version}``."""
        from pydala2_spark.plans.fs import list_files, path_exists, read_text

        if not path_exists(self.spark, self.snapshots_dir):
            return {}
        out: dict[str, int] = {}
        for f in list_files(self.spark, self.snapshots_dir, suffixes=(".json",)):
            base = posixpath.basename(f)
            if base.startswith("tag-") and base.endswith(".json"):
                t = json.loads(read_text(self.spark, f))
                out[t["tag"]] = int(t["version"])
        return out

    def delete_tag(self, name: str) -> bool:
        """Remove a tag (the version and its files stay; they become
        vacuum-eligible once nothing else references them)."""
        from pydala2_spark.plans.fs import delete_paths, path_exists

        p = f"{self.snapshots_dir}/tag-{name}.json"
        if not path_exists(self.spark, p):
            return False
        return delete_paths(self.spark, [p]) == 1

    def _resolve_tag(self, tag: str) -> int:
        t = self.tags()
        if tag not in t:
            raise ValueError(f"unknown tag {tag!r} at {self.path!r}")
        return t[tag]

    # -- read -------------------------------------------------------------

    def read(
        self, version: int | None = None, tag: str | None = None
    ) -> DataFrame:
        """The dataset AS OF ``version`` / ``tag`` (default: latest)."""
        if tag is not None:
            if version is not None:
                raise ValueError("pass version OR tag, not both")
            version = self._resolve_tag(tag)
        if version is None:
            version = self.current_version()
        if version is None:
            raise ValueError(f"no snapshots at {self.path!r}")
        m = self._read_manifest(version)
        if not m["files"]:
            schema = T.StructType.fromJson(json.loads(m["schema_json"]))
            return self.spark.createDataFrame([], schema)
        paths = [f"{self.path}/{rel}" for rel in m["files"]]
        return self.spark.read.option("basePath", self.path).parquet(*paths)

    def changes(
        self,
        from_version: "int | str",
        to_version: "int | str | None" = None,
        key_cols: list[str] | None = None,
        update_images: str = "post",
    ) -> DataFrame:
        """Change data feed between two versions: every row inserted,
        deleted, or updated going from ``from_version`` to
        ``to_version`` (default: latest), tagged in a ``_change_type``
        column (``insert`` / ``delete`` / ``update`` — updates carry
        the POST image). The CDC surface a downstream incremental
        consumer (index refresh, materialized aggregate, replication)
        reads instead of re-scanning the table.

        ``key_cols`` identifies rows across versions (unique per
        version; null-safe compare). Rows are diffed by VALUE, so a
        rewrite that didn't change a row (compaction, clustering)
        produces no change row.

        ``update_images='both'`` emits TWO rows per updated key —
        ``update_preimage`` then ``update_postimage`` (the Delta-CDF
        contract) — which is what incremental aggregate maintenance
        needs: the pre image retracts the old contribution, the post
        image asserts the new one (see ``operators/ivm``). The default
        ``'post'`` emits one ``update`` row carrying the post image.

        100 TB shape — the reason this lives on the snapshot layer:
        the manifest file-set diff bounds the work. Rows in files
        carried over by name between the two manifests CANNOT have
        changed and are never read; only (files removed since v1) ∪
        (files added by v2) scan, then one full-outer join on the key
        over that bounded subset. A pure-append history therefore
        reads only the appended files and joins against an empty pre
        side; a compaction commit reads the rewritten files and emits
        nothing. Worst case (full overwrite) degrades to diffing both
        versions — the same cost any engine pays.
        """
        if not key_cols:
            raise ValueError("key_cols is required (unique row identity per version)")
        if update_images not in ("post", "both"):
            raise ValueError(
                f"update_images must be 'post' or 'both', got {update_images!r}"
            )
        # tag names are accepted wherever a version is ("what changed
        # since the last release?"): strings resolve through the tag
        # store at call time
        if isinstance(from_version, str):
            from_version = self._resolve_tag(from_version)
        if isinstance(to_version, str):
            to_version = self._resolve_tag(to_version)
        if to_version is None:
            to_version = self.current_version()
        versions = set(self.versions())
        for v in (from_version, to_version):
            if v not in versions:
                raise ValueError(f"unknown snapshot version {v} at {self.path!r}")
        if from_version > to_version:
            raise ValueError(
                f"from_version {from_version} is newer than to_version {to_version}"
            )
        m1 = self._read_manifest(from_version)
        m2 = self._read_manifest(to_version)
        post_schema = T.StructType.fromJson(json.loads(m2["schema_json"]))
        missing = [k for k in key_cols if k not in post_schema.fieldNames()]
        if missing:
            raise ValueError(f"key columns {missing} not in version {to_version} schema")
        out_cols = post_schema.fieldNames()

        f1, f2 = set(m1["files"]), set(m2["files"])
        removed, added = sorted(f1 - f2), sorted(f2 - f1)

        def _read(rels: list[str], schema_json: str) -> DataFrame:
            if not rels:
                schema = T.StructType.fromJson(json.loads(schema_json))
                return self.spark.createDataFrame([], schema)
            return self.spark.read.option("basePath", self.path).parquet(
                *[f"{self.path}/{rel}" for rel in rels]
            )

        pre_df = _read(removed, m1["schema_json"])
        post_df = _read(added, m2["schema_json"])
        pre = pre_df.select(
            F.lit(1).alias("__pre_present"),
            *[F.col(c).alias(f"__pre_{c}") for c in pre_df.columns],
        )
        post = post_df.select(
            F.lit(1).alias("__post_present"),
            *[F.col(c).alias(f"__post_{c}") for c in post_df.columns],
        )
        cond = None
        for k in key_cols:
            c = F.col(f"__pre_{k}").eqNullSafe(F.col(f"__post_{k}"))
            cond = c if cond is None else (cond & c)
        j = pre.join(post, cond, "full_outer")

        common = [c for c in pre_df.columns if c in set(post_df.columns)]
        cmp_cols = [c for c in common if c not in set(key_cols)]
        pre_here = F.col("__pre_present").isNotNull()
        post_here = F.col("__post_present").isNotNull()
        if cmp_cols:
            differs = ~F.struct(
                *[F.col(f"__pre_{c}") for c in cmp_cols]
            ).eqNullSafe(F.struct(*[F.col(f"__post_{c}") for c in cmp_cols]))
        else:
            differs = F.lit(False)
        change = (
            F.when(~post_here, F.lit("delete"))
            .when(~pre_here, F.lit("insert"))
            .when(differs, F.lit("update"))
        )
        j = j.withColumn("_change_type", change).filter(
            F.col("_change_type").isNotNull()
        )

        def _pre_col(c: str) -> F.Column:
            return (
                F.col(f"__pre_{c}")
                if c in set(pre_df.columns)
                else F.lit(None).cast(post_schema[c].dataType)
            )

        def _out(c: str) -> F.Column:
            return F.when(post_here, F.col(f"__post_{c}")).otherwise(_pre_col(c)).alias(c)

        if update_images == "post":
            return j.select(*[_out(c) for c in out_cols], "_change_type")

        # Delta-CDF contract: updates split into a pre-image retraction
        # and a post-image assertion — emitted by ONE explode over the
        # classified frame (updates yield both images, other changes
        # one row), not a 3-branch union scanning it three times. The
        # classified frame still materializes once (|changes|-sized):
        # feed consumers act repeatedly, and without the checkpoint
        # each action re-runs the file-diff full-outer join (measured
        # 1.36x slower across the CDC family without it).

        j = materialize(j)
        pre_img = F.struct(
            *[_pre_col(c).alias(c) for c in out_cols],
            F.lit("update_preimage").alias("_change_type"),
        )
        post_img = F.struct(
            *[F.col(f"__post_{c}").alias(c) for c in out_cols],
            F.lit("update_postimage").alias("_change_type"),
        )
        plain = F.struct(*[_out(c) for c in out_cols], F.col("_change_type"))
        variants = F.when(
            F.col("_change_type") == "update", F.array(pre_img, post_img)
        ).otherwise(F.array(plain))
        return j.select(F.explode(variants).alias("__r")).select("__r.*")

    # -- compaction -------------------------------------------------------

    def compact(
        self,
        small_file_max_bytes: int = 64 << 20,
        target_file_bytes: int = 256 << 20,
        compression: str = "zstd",
        cluster_by: list[str] | None = None,
    ) -> dict | None:
        """Rewrite the current version's small files into fewer larger
        ones and publish the result as a new version (operation
        ``compact``) — maintenance that PRESERVES time travel: older
        manifests still reference the old files, and the swap is the
        same atomic manifest publish as any commit, so readers never
        see a half-compacted state (the mutable-dataset compaction in
        `operators/maintenance.py` has a delete/rename window instead).

        Only files ≤ ``small_file_max_bytes`` rewrite; survivors carry
        over by name. Returns the new manifest, or None when fewer than
        two small files exist — or when a concurrent commit removed any
        of the small files mid-compaction (publishing would resurrect
        rows that commit deleted; the rewrite is abandoned and its
        files cleaned up). Reclaim replaced files later with
        ``vacuum(keep_last=...)``.

        ``cluster_by`` Z-orders the rewrite: rows range-partition and
        sort on the interleaved-bit key over those columns
        (`operators/maintenance.zorder_expr`), so the compacted files
        carry tight min/max ranges on EVERY clustered column and
        :meth:`read_pruned` skips most of them for any of those
        predicates — compaction, clustering, and time travel in one
        atomic publish. To recluster everything (not just small files)
        pass ``small_file_max_bytes`` larger than any file.
        """
        from pydala2_spark.plans.fs import rel_statuses

        self._publish_guard()
        head = self.current_version()
        if head is None:
            return None
        m = self._read_manifest(head)
        rel_size = {rel: size for rel, _, size, _ in rel_statuses(self.spark, self.path)}
        smalls = [f for f in m["files"] if rel_size.get(f, 0) <= small_file_max_bytes]
        if len(smalls) < 2:
            return None

        total = sum(rel_size.get(f, 0) for f in smalls)
        n_out = max(1, -(-total // target_file_bytes))  # ceil
        df = self.spark.read.option("basePath", self.path).parquet(
            *[f"{self.path}/{f}" for f in smalls]
        )
        if cluster_by:
            from pydala2_spark.operators.maintenance import zorder_expr

            df = (
                df.withColumn("__z", zorder_expr(df, list(cluster_by)))
                .repartitionByRange(int(n_out), F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        else:
            df = df.repartition(int(n_out))
        own = self._stage(df, compression, 10_000_000)
        small_set = set(smalls)

        def step(cur: dict | None) -> list[str] | None:
            # swap only small→compacted, keeping whatever else the head
            # holds — but ONLY while every small file is still
            # referenced. A concurrent overwrite (or a racing compact)
            # that dropped any of them means our rewrite holds rows the
            # head deleted; publishing would resurrect them. Abandon,
            # deleting our moved (unreferenced) files.
            files = cur["files"] if cur else []
            if not small_set <= set(files):
                from pydala2_spark.plans.fs import delete_paths

                delete_paths(self.spark, [f"{self.path}/{rel}" for rel in own])
                return None
            return [f for f in files if f not in small_set] + own

        return self._commit("compact", step, added=sorted(own))

    def file_stats(self, version: int | None = None):
        """Footer-only stats table over exactly one version's manifest
        files (distributed scan; plans/stats.collect_file_stats) — the
        version-scoped substrate for pruning/compaction planning that
        directory-level sidecars cannot provide on a snapshot dataset
        (they would index replaced versions' files too)."""
        from pydala2_spark.plans.stats import collect_file_stats

        if version is None:
            version = self.current_version()
        if version is None:
            raise ValueError(f"no snapshots at {self.path!r}")
        m = self._read_manifest(version)
        return collect_file_stats(
            self.spark, self.path, files=[f"{self.path}/{rel}" for rel in m["files"]]
        )

    def read_pruned(
        self, column: str, lo=None, hi=None, version: int | None = None
    ) -> DataFrame:
        """Version-pinned file-pruned scan: footer-scan ONLY this
        version's manifest files, drop files whose min/max prove no
        row matches [lo, hi], and read the survivors (the pruned read
        of ``plans/stats``). Time travel and file skipping compose —
        the caller still applies the row-level filter."""
        from pydala2_spark.plans.stats import footer_stats, kept_files, read_survivors, survival

        if version is None:
            version = self.current_version()
        if version is None:
            raise ValueError(f"no snapshots at {self.path!r}")
        files = [f"{self.path}/{rel}" for rel in self._read_manifest(version)["files"]]
        stats = footer_stats(self.spark, self.path, files)
        keep = kept_files(files, survival(stats, column, lo, hi))
        return read_survivors(self.spark, self.path, keep, lambda: self.read(version))

    # -- rollback ---------------------------------------------------------

    def rollback(self, version: int) -> dict:
        """Publish a NEW version whose file set equals ``version``'s —
        history is append-only, so the rollback itself is auditable and
        time travel to the rolled-back-over versions still works.

        Verifies every target file still exists before publishing, so a
        rollback cannot re-reference data a ``vacuum(keep_last=)``
        already removed. (A vacuum racing BETWEEN the check and the
        publish can still win — don't run retention and rollback for
        the same dataset concurrently.)"""
        from pydala2_spark.plans.fs import rel_statuses

        self._publish_guard()
        target = self._read_manifest(version)  # raises if absent
        present = {rel for rel, _, _, _ in rel_statuses(self.spark, self.path)}
        gone = [rel for rel in target["files"] if rel not in present]
        if gone:
            raise ValueError(
                f"cannot roll back to version {version}: {len(gone)} of its "
                f"file(s) were vacuumed (e.g. {gone[0]})"
            )
        return self._commit(
            f"rollback:{version}",
            lambda m: target["files"],
            target["schema_json"],
            added=[],
        )

    # -- vacuum -----------------------------------------------------------

    def vacuum(
        self, keep_last: int | None = None, orphan_grace_seconds: int = 3600
    ) -> dict:
        """Delete data files no retained manifest references.

        With ``keep_last=N``, manifests older than the newest N are
        dropped first (their exclusively-referenced files become
        deletable); without it every version is retained and only
        orphans (crashed commits) are removed. Never touches the
        current version's files.

        ``orphan_grace_seconds`` protects IN-FLIGHT commits: a
        committer moves its data files into the root BEFORE publishing
        the manifest, so an unreferenced file younger than the grace
        window may be a commit about to publish — deleting it would
        corrupt that version the instant its manifest lands. Only
        unreferenced files older than the grace are deleted (the
        Iceberg orphan-retention rule). Pass 0 only when no writer can
        be active.
        """
        from pydala2_spark.plans.fs import delete_paths, rel_statuses

        versions = self.versions()
        if not versions:
            return {"deleted_files": 0, "deleted_manifests": 0}
        drop_versions: list[int] = []
        if keep_last is not None and keep_last >= 1 and len(versions) > keep_last:
            drop_versions = versions[: len(versions) - keep_last]
        # tagged versions are REFERENCED regardless of age: a release
        # tag must keep resolving to the same bytes until deleted
        tagged = set(self.tags().values())
        drop_versions = [v for v in drop_versions if v not in tagged]

        retained = [v for v in versions if v not in drop_versions]
        referenced: set[str] = set()
        for v in retained:
            referenced.update(self._read_manifest(v)["files"])

        # files referenced ONLY by dropped versions: age-irrelevant —
        # no in-flight commit can adopt an already-manifested file
        dropped_referenced: set[str] = set()
        for v in drop_versions:
            dropped_referenced.update(self._read_manifest(v)["files"])

        cutoff_ms = (time.time() - orphan_grace_seconds) * 1000
        doomed = [
            p
            for rel, p, _, mtime in rel_statuses(self.spark, self.path)
            if p.endswith(".parquet")
            and rel not in referenced
            and (rel in dropped_referenced or mtime <= cutoff_ms)
        ]
        n_files = delete_paths(self.spark, doomed)
        n_manifests = delete_paths(
            self.spark, [self._manifest_path(v) for v in drop_versions]
        )
        return {"deleted_files": n_files, "deleted_manifests": n_manifests}
