"""Rename-free atomic publication: generation manifests.

Directory-swap maintenance (``compact_table``'s two-rename swap) is
correct on a LOCAL filesystem but has no object-store analogue —
``os.rename`` does not exist on S3/GCS (VERDICT r10, "What's missing"
#5).  This module is the rename-free commit protocol of the manifest
batch table (``sources.manifest_table``), the same shape Iceberg/Delta use for exactly this reason
(public design; implementation original):

* data is only ever written to FRESH paths (a new ``generation``
  directory per rewrite) — never moved, never overwritten in place
  except by an idempotent retry of the same logical write;
* the COMMIT POINT is publishing a small JSON **manifest file** naming
  which generation dirs are live; readers resolve the newest valid
  manifest and read exactly the paths it names;
* superseded generations and crash orphans (data written, manifest
  never published) are invisible to every reader and reclaimed later by
  an explicit vacuum.

Every filesystem operation used here has a 1:1 object-store analogue:

==================  ======================  ==========================
operation           here                    object store
==================  ======================  ==========================
list manifests      ``listStatus``          LIST prefix
read manifest       ``open`` + read         GET (atomic per object)
publish manifest    ``create(overwrite=F)`` conditional PUT
                                            (If-None-Match /
                                            ifGenerationMatch=0)
reclaim             ``delete``              DELETE
==================  ======================  ==========================

No rename appears anywhere in the protocol (test-pinned: the manifest
pipelines run with ``os.rename``/``os.replace``/``shutil.move``
monkeypatched to raise).  Spark's own job-commit atomicity for the data
files is delegated to the configured output committer, exactly as for
any Spark-on-object-store deployment — the protocol never depends on it
beyond "a succeeded write's files are all present", because a
half-committed generation is simply never published.

Crash model: a crash BEFORE publish leaves orphan generation dirs no
reader ever sees — the retry lands at a fresh attempt-unique generation
(``fresh_gen``) and a later vacuum deletes the orphans; a crash AFTER
publish is a completed operation.  There is
no mid-flight window at all — no sentinel or rollback step exists,
because no state ever needs recovering.

Concurrency model (r12): the publish is a conditional PUT
(create-if-absent), so two INDEPENDENT writers racing a commit resolve
deterministically — exactly one wins a given seq; the loser raises
``ManifestConflictError`` with nothing visible from its attempt and
either rebases (the ledgered batch appends re-derive against the new
head automatically) or aborts (maintenance passes re-run later).  No
generation is ever silently dropped.  The one residual single-writer
assumption is LOCAL-filesystem torn-file handling: a torn manifest is
treated as this writer's own crashed publish (object-store PUTs cannot
tear), so local deployments should still serialize writers per table;
maintenance passes invoked from a stream's ``foreachBatch`` already
are.

Manifest files are ``{root}/_manifest/v{seq:08d}.json``; readers take
the highest-numbered file that parses (a torn local write of the newest
— impossible on object stores, where PUT is atomic — reads as "not yet
committed" and falls back).  IO goes through the Hadoop ``FileSystem``
API when the JVM gateway is available (any scheme Spark can reach);
under Spark Connect it falls back to local ``os``/``open`` and raises
for non-local paths — the documented Connect boundary, consistent with
``fsutil``.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import SparkSession

from .fsutil import hadoop_fs

MANIFEST_SUBDIR = "_manifest"
FORMAT = "generation-manifest/1"


class ManifestConflictError(RuntimeError):
    """Another writer committed first: the target manifest seq already
    exists with DIFFERENT content (or newer seqs appeared since the
    writer read the live manifest).  The losing writer's data dirs are
    unpublished orphans — nothing it wrote is visible, nothing the
    winner committed is disturbed.  Recovery: re-resolve the live
    manifest and either REBASE (re-derive the operation against the new
    head at a fresh seq — what the ledgered batch appends do
    automatically, since disjoint batch ids compose) or ABORT (what
    compaction/vacuum/split maintenance does — the pass simply re-runs
    later against the new head)."""


def _local_path(path: str) -> str | None:
    """Local filesystem path behind ``path``, or None for other schemes."""
    p = path
    if p.startswith("file://"):
        return p[len("file://"):] or None
    if p.startswith("file:"):
        return p[len("file:"):]
    if ":" in p.split("/", 1)[0]:
        return None
    return p


def _require_local(path: str, op: str) -> str:
    lp = _local_path(path)
    if lp is None:
        raise ValueError(
            f"manifest {op} on {path!r} needs the JVM gateway for "
            "non-local schemes (Hadoop FileSystem API); under Spark "
            "Connect only local paths are supported"
        )
    return lp


def _ls_names(spark: SparkSession, path: str) -> list[str]:
    """Names directly under ``path`` ([] when absent) — LIST analogue."""
    got = hadoop_fs(spark, path)
    if got is not None:
        fs, jpath = got
        if not fs.exists(jpath):
            return []
        return sorted(s.getPath().getName() for s in fs.listStatus(jpath))
    lp = _require_local(path, "listing")
    if not os.path.isdir(lp):
        return []
    return sorted(os.listdir(lp))


#: JVM exception markers that mean "this FILE is torn/absent", the only
#: read failures the torn-newest-manifest fallback may absorb:
#: a crashed local JVM write leaves the data file and its
#: LocalFileSystem ``.crc`` sidecar inconsistent (ChecksumException), a
#: truncated stream reads short (EOFException), and a file deleted
#: between LIST and GET (concurrent vacuum) is FileNotFound.  Anything
#: else — connection resets, 5xx, throttling, auth — is a TRANSIENT
#: STORE failure and must propagate: absorbing it would silently serve
#: a stale older snapshot instead of failing loudly (ADVICE r12).
_TORN_READ_MARKERS = (
    "ChecksumException",
    "EOFException",
    "FileNotFoundException",
    "File does not exist",
)


def _read_text(spark: SparkSession, path: str) -> str:
    """Whole-file read — GET analogue.  JVM-side TORN-FILE failures
    (checksum/EOF/not-found, :data:`_TORN_READ_MARKERS`) are re-raised
    as ``OSError`` so every torn-file handler sees one exception family
    and falls back per the crash model; any OTHER JVM read failure
    (transient IO/connectivity) propagates unchanged — readers must
    fail loudly rather than degrade to an older manifest."""
    got = hadoop_fs(spark, path)
    if got is not None:
        fs, jpath = got
        try:
            stream = fs.open(jpath)
            try:
                data = spark._jvm.org.apache.commons.io.IOUtils.toByteArray(  # noqa: SLF001
                    stream
                )
            finally:
                stream.close()
        except Exception as exc:
            msg = str(exc)
            if any(mark in msg for mark in _TORN_READ_MARKERS):
                raise OSError(
                    f"manifest read of {path!r} failed: {exc}"
                ) from exc
            raise
        return bytes(data).decode("utf-8")
    with open(_require_local(path, "reading"), encoding="utf-8") as fh:
        return fh.read()


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    """Whole-file overwrite-create — PUT analogue (atomic per object on
    object stores; a torn LOCAL write is tolerated by the reader's
    newest-that-parses rule)."""
    got = hadoop_fs(spark, path)
    if got is not None:
        fs, jpath = got
        out = fs.create(jpath, True)
        try:
            out.write(text.encode("utf-8"))
        finally:
            out.close()
        return
    lp = _require_local(path, "writing")
    os.makedirs(os.path.dirname(lp), exist_ok=True)
    with open(lp, "w", encoding="utf-8") as fh:
        fh.write(text)


def _create_text_exclusive(spark: SparkSession, path: str, text: str) -> bool:
    """Create-if-absent — the conditional-PUT analogue (S3
    ``If-None-Match: *`` / GCS ``ifGenerationMatch=0``).  Returns False
    when the object already exists (someone else PUT it first), True on
    a successful exclusive create.  Via the JVM gateway this is Hadoop
    ``FileSystem.create(path, overwrite=false)``; locally,
    ``open(..., 'x')``.

    DEPLOYMENT REQUIREMENT, stated honestly: the multi-writer guarantee
    is only as strong as the connector's create-if-absent.  HDFS
    namespace creates are atomic.  STOCK S3A historically implements
    ``overwrite=false`` as a HEAD at create time with an unconditional
    PUT at close — a check-then-act race; true conditional PUT needs
    Hadoop >= 3.4.1 with ``fs.s3a.create.conditional`` enabled (or any
    store-side If-None-Match support).  GCS connector creates map to
    ``ifGenerationMatch=0`` (atomic).  Multi-writer deployments must
    run a connector whose exclusive create is genuinely atomic; with a
    HEAD-then-PUT connector the protocol degrades to the documented
    single-writer contract."""
    got = hadoop_fs(spark, path)
    if got is not None:
        fs, jpath = got
        try:
            out = fs.create(jpath, False)
        except Exception as exc:  # Py4JJavaError wrapping the FS error
            msg = str(exc)
            if "AlreadyExists" in msg or "already exists" in msg:
                return False
            raise
        try:
            out.write(text.encode("utf-8"))
        finally:
            out.close()
        return True
    lp = _require_local(path, "writing")
    os.makedirs(os.path.dirname(lp), exist_ok=True)
    try:
        fh = open(lp, "x", encoding="utf-8")
    except FileExistsError:
        return False
    with fh:
        fh.write(text)
    return True


def _delete(spark: SparkSession, path: str, *, recursive: bool) -> bool:
    """DELETE analogue.  Returns False when the path was already absent."""
    got = hadoop_fs(spark, path)
    if got is not None:
        fs, jpath = got
        if not fs.exists(jpath):
            return False
        return bool(fs.delete(jpath, recursive))
    lp = _require_local(path, "deleting")
    if not os.path.exists(lp):
        return False
    if os.path.isdir(lp):
        shutil.rmtree(lp)
    else:
        os.remove(lp)
    return True


#: rebase attempts per ledgered append before giving up
MAX_REBASES = 5


def fresh_gen(seq: int) -> int:
    """ATTEMPT-UNIQUE generation id targeting commit ``seq``:
    ``(seq << 32) | 32 random bits``, so ids sort seq-major (the
    "newest keep_last" ordering compactions rely on) while no two write
    attempts ever share a data path.

    Why generation dirs must not be derived from ``seq`` alone (r12
    review finding): the conditional PUT protects the MANIFEST, not the
    data dirs.  Two writers racing the same head both target seq K+1;
    if both wrote data at ``g=K+1``, the loser's ``mode("overwrite")``
    data write — which can complete AFTER the winner's publish — would
    replace the winner's already-committed generation in place, losing
    its rows while the ledger still points at the dir.  With a random
    attempt component, the loser's data is genuinely an unpublished
    orphan at its own path (vacuum reclaims it) and the winner's
    generation is untouchable by construction.  The same reasoning
    covers a crashed attempt's retry: it lands at a NEW generation and
    the orphan awaits vacuum, rather than overwriting in place."""
    import secrets

    return (int(seq) << 32) | secrets.randbits(32)


def _seq_of(name: str) -> int | None:
    if name.startswith("v") and name.endswith(".json"):
        digits = name[1:-len(".json")]
        if digits.isdigit():
            return int(digits)
    return None


def manifest_seqs(spark: SparkSession, root: str) -> list[int]:
    """All manifest sequence numbers present under ``root``, ascending
    (including any not-yet-validated newest)."""
    names = _ls_names(spark, f"{root}/{MANIFEST_SUBDIR}")
    return sorted(s for n in names if (s := _seq_of(n)) is not None)


def manifest_read(
    spark: SparkSession, root: str, *, at: int | None = None
) -> dict | None:
    """The LIVE manifest: highest-numbered file that parses and carries
    the expected format tag, or None when no valid manifest exists.  An
    unparseable newest file is a crashed local publish — "not yet
    committed" — and the previous manifest stays live (documented in the
    module crash model; on object stores PUT atomicity makes torn
    manifests impossible).

    ``at`` (r11) resolves a HISTORICAL commit instead: the newest valid
    manifest with ``seq <= at`` — the snapshot-read primitive (every
    retained manifest is a complete description of the table at its
    commit, so time travel is just "resolve an older one").  The window
    is what retention left behind: ``manifest_vacuum`` bounds the
    manifest files, and the table's data vacuum may have reclaimed a
    snapshot's generation DIRS even while its manifest file survives —
    readers surface that as a missing-path error at scan time."""
    for seq in reversed(manifest_seqs(spark, root)):
        if at is not None and seq > int(at):
            continue
        path = f"{root}/{MANIFEST_SUBDIR}/v{seq:08d}.json"
        try:
            payload = json.loads(_read_text(spark, path))
        except (ValueError, OSError):
            continue
        if payload.get("format") != FORMAT:
            raise ValueError(
                f"manifest {path!r} has format "
                f"{payload.get('format')!r}, expected {FORMAT!r}"
            )
        if payload.get("seq") != seq:
            raise ValueError(
                f"manifest {path!r} carries seq {payload.get('seq')!r} — "
                "name/content mismatch; the manifest dir was modified "
                "outside the publish protocol"
            )
        return payload
    return None


def manifest_history(spark: SparkSession, root: str) -> list[dict]:
    """Every retained, valid manifest, ascending by seq — the table's
    commit audit trail (what each commit's live state was, which batch
    ids were in the ledger when).  Unparseable files (torn local
    publishes) are skipped, same as reads."""
    out = []
    for seq in manifest_seqs(spark, root):
        path = f"{root}/{MANIFEST_SUBDIR}/v{seq:08d}.json"
        try:
            payload = json.loads(_read_text(spark, path))
        except (ValueError, OSError):
            continue
        if payload.get("format") == FORMAT and payload.get("seq") == seq:
            out.append(payload)
    return out


def manifest_publish(
    spark: SparkSession, root: str, payload: dict, *, seq: int
) -> int:
    """Publish ``payload`` as manifest ``seq`` — THE commit point.
    ``seq`` must be the writer's pre-computed target (live seq + 1, the
    value its fresh-path data writes were tagged with).

    Optimistic concurrency (r12): the publish is a CREATE-IF-ABSENT
    (conditional PUT, :func:`_create_text_exclusive`), so two writers
    racing the same ``v{N+1}`` resolve deterministically — exactly one
    wins; the loser gets :class:`ManifestConflictError` with nothing
    visible from its attempt (its data dirs are unpublished orphans) and
    re-resolves the head to rebase or abort.  The pre-check keeps the
    older loud refusal for a writer whose target seq fell BEHIND the
    newest manifest (it raced, lost, and kept going) — same error class.

    Idempotent crash retry stays allowed: re-publishing the newest seq
    with byte-identical content is a success, not a conflict (the writer
    crashed after its own PUT landed).  A torn LOCAL file at the target
    seq (impossible on object stores — PUT is atomic) is this writer's
    own crashed publish and is overwritten to completion."""
    seqs = manifest_seqs(spark, root)
    if seqs and int(seq) < seqs[-1]:
        raise ManifestConflictError(
            f"stale publish: target seq {seq} is behind the newest "
            f"manifest v{seqs[-1]:08d} at {root!r} — another writer "
            "published since this operation read the live manifest; "
            "re-derive from the live manifest and retry (rebase) or "
            "abort"
        )
    body = dict(payload)
    body["format"] = FORMAT
    body["seq"] = int(seq)
    text = json.dumps(body, sort_keys=True)
    path = f"{root}/{MANIFEST_SUBDIR}/v{seq:08d}.json"
    if _create_text_exclusive(spark, path, text):
        return int(seq)
    # the target already exists.  Re-read with a short bounded backoff
    # before classifying: on filesystems where create is exclusive but
    # content only appears at the writer's close (HDFS), an immediate
    # read of ANOTHER writer's in-flight file sees it empty/partial —
    # without the backoff that would be misclassified as our own torn
    # crash remnant and overwritten, silently clobbering their commit.
    existing = None
    for attempt in range(3):
        if attempt:
            import time as _time

            _time.sleep(0.1 * (2 ** (attempt - 1)))
        try:
            existing = json.loads(_read_text(spark, path))
            break
        except (ValueError, OSError):
            existing = None
    if existing == body:
        return int(seq)  # crash retry of our own committed publish
    if existing is None or existing.get("format") != FORMAT:
        # still unparseable after the backoff: a torn crash remnant
        # (single-writer local crash model); complete the retry
        _write_text(spark, path, text)
        return int(seq)
    raise ManifestConflictError(
        f"manifest v{seq:08d} at {root!r} was committed by another "
        "writer with different content — this attempt lost the "
        "conditional PUT; its data generations are unpublished orphans "
        "(vacuum reclaims them); re-derive from the live manifest and "
        "retry (rebase) or abort"
    )


def manifest_vacuum(
    spark: SparkSession, root: str, *, keep_last: int = 3
) -> list[int]:
    """Delete manifest FILES older than the newest ``keep_last`` VALID
    manifests (history for audit/debug; the live manifest is always
    kept).  Retention is computed over manifests that actually parse and
    carry the expected format/seq: an unparseable file is a crashed
    local publish — counting it toward retention would let a torn newest
    file occupy the only slot at ``keep_last=1`` and evict the LIVE
    manifest (from which the table vacuums would then reclaim every
    generation dir: total table loss).  Torn files are instead deleted
    as orphans, whatever their position.  Safe under the protocol's
    writer contract: vacuum runs in the maintenance writer, so no
    publish of its own can be mid-write; a concurrent OTHER writer's
    in-flight local publish is outside the crash model (object-store
    PUTs cannot tear at all).  Data-dir reclamation is the table owner's
    job (it knows its layout) — e.g.
    ``sources.manifest_table.vacuum_manifest_table``.
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (the live manifest)")
    seqs = manifest_seqs(spark, root)
    valid = []
    for seq in seqs:
        path = f"{root}/{MANIFEST_SUBDIR}/v{seq:08d}.json"
        try:
            payload = json.loads(_read_text(spark, path))
        except (ValueError, OSError):
            continue
        if payload.get("format") == FORMAT and payload.get("seq") == seq:
            valid.append(seq)
    keep = set(valid[-keep_last:])
    dropped = []
    for seq in seqs:
        if seq in keep:
            continue
        if _delete(
            spark, f"{root}/{MANIFEST_SUBDIR}/v{seq:08d}.json",
            recursive=False,
        ):
            dropped.append(seq)
    return dropped
