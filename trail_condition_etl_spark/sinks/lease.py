"""Writer lease, fencing tokens and the sink retry envelope.

Every manifest-table commit (sinks/manifest.py) runs under these
helpers: `acquire_table_lease` claims the table, `check_fence` /
`record_commit` detect a writer whose lease was stolen, and
`retry_with_backoff` re-runs a failed commit attempt.
"""

from __future__ import annotations

import logging
import os
import shutil
import threading
import time
import uuid
from collections.abc import Callable
from typing import TypeVar

# R1 retry envelope (reference wraps every external write in tenacity
# retries: schedule-jobs/scheduler/tasks.py:41-46,
# categorize-trail-conditions/src/client.py:26-30 — stop_after_attempt(3),
# exponential backoff). Spark absorbs TASK retries; this covers whole-JOB
# transient failures (FS hiccup, lost executor storm) at the sink
# boundary, where the reference's pattern still applies.
MAX_WRITE_ATTEMPTS = 3
BACKOFF_BASE_S = 0.5

T = TypeVar("T")


def retry_with_backoff(
    fn: Callable[[], T],
    max_attempts: int = MAX_WRITE_ATTEMPTS,
    base_delay_s: float = BACKOFF_BASE_S,
    sleep: Callable[[float], None] = time.sleep,
    fatal: tuple[type[BaseException], ...] = (),
) -> T:
    """Bounded exponential backoff (0.5s, 1s, ...), re-raising the last
    error. Safe to wrap a whole commit attempt: a manifest commit writes
    into a private segment directory no manifest references until the
    publish, so a failed attempt leaves the previous table state intact
    and the retry re-reads it. Exceptions in `fatal` propagate
    immediately — retrying a fencing abort would just re-run a write
    that must not happen."""
    last: Exception | None = None
    for attempt in range(max_attempts):
        try:
            return fn()
        except fatal:
            raise
        except Exception as exc:  # noqa: BLE001 — sink boundary
            last = exc
            if attempt < max_attempts - 1:
                sleep(base_delay_s * (2**attempt))
    assert last is not None
    raise last


# ---------------------------------------------------------------------------
# Concurrent-writer protocol (lease + fencing token).
#
# A 100 TB warehouse has concurrent writers, so every commit runs under
# a CLAIM + FENCE protocol:
#
# * claim — `mkdir(table.lock)` is the atomic claim (POSIX mkdir either
#   creates or fails; on an object store this becomes a conditional PUT
#   / DynamoDB item, the same seam Delta's S3 LogStore uses). The claim
#   is a LEASE: a holder that crashes mid-commit leaves the dir behind,
#   and any writer may steal a claim older than `LOCK_LEASE_TTL_S`.
# * fence — each acquisition increments a monotone token
#   (`table.fence`). Fencing is ISSUE-ordered, not only commit-ordered
#   (docs/TABLE_FORMAT.md invariants, r10): a writer aborts
#   (`WriterFencedError`) when a commit newer than its token exists,
#   when another token holds the lease, OR — lease released — when any
#   NEWER token was merely ISSUED since (a released-but-uncommitted
#   zombie must not act on state a newer writer may be rewriting).
#   Last-writer-wins is DETECTED, never silent.
#
# Race hardening (all paths tested in test_sinks.py):
# * a steal removes only the lock INCARNATION it judged stale. The
#   contender pins the lock dir with an fd, judges its age with fstat,
#   and claims the steal by creating an O_EXCL marker file INSIDE that
#   pinned dir (`_claim_steal`). Exactly one contender wins the marker,
#   and a contender whose stat is outdated creates its marker in the
#   old, already renamed-aside dir — never in a fresh lock — and then
#   finds that dir gone from the lock path, so two stealers can never
#   both believe they hold the lease. (Left open: a holder judged
#   stale that wakes and releases in the instant between the winning
#   stealer's path check and its rename; its heartbeat had to stop
#   for a full TTL first.)
# * the lock dir records its holder's token (`owner` file); release and
#   commit are OWNERSHIP-CHECKED, so a writer whose lease was stolen
#   cannot delete the new holder's lock or publish its stale commit;
# * every commit attempt re-checks the fence BEFORE it writes, so a
#   stale writer aborts pre-write in the common case;
# * fence/commit marker files are written via temp + os.replace — a
#   concurrent reader never observes a truncated/empty token file.
#
# * the lease HEARTBEATS: a driver-side daemon thread refreshes the
#   lock dir's mtime every TTL/4 while the holder works, so a healthy
#   writer whose commit outlives the TTL (routine at scale) is never
#   mistaken for a crashed one and stolen from — mtime staleness now
#   really means holder death, not just holder slowness. The heartbeat
#   checks ownership before each touch, so a thread that lost a race
#   never refreshes somebody else's lock.
#
# The manifest table makes a fenced abort total: the stale writer's
# segment is orphan data no manifest references, and the publish
# itself is a no-clobber link that re-checks the fence.
# ---------------------------------------------------------------------------

LOCK_LEASE_TTL_S = 60.0

_LOG = logging.getLogger(__name__)


class WriterFencedError(RuntimeError):
    """This writer's lease was stolen and a newer writer has committed;
    its output is stale and must not be published."""


def _lock_dir(table_path: str) -> str:
    return table_path.rstrip("/") + ".lock"


def _fence_path(table_path: str) -> str:
    return table_path.rstrip("/") + ".fence"


def _commit_path(table_path: str) -> str:
    return table_path.rstrip("/") + ".commit"


def _atomic_write_text(path: str, text: str) -> None:
    """Write a marker file so readers see either the old or the new
    content, never a truncated/empty file (temp + atomic os.replace;
    on an object store this is a conditional PUT)."""
    tmp = f"{path}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


# live lease heartbeats: (table_path, token) -> stop event. Daemon
# threads, so a crashed driver stops heartbeating and its lease goes
# stale after the TTL exactly as the steal path expects.
_HEARTBEATS: dict[tuple[str, int], threading.Event] = {}
_HB_LOCK = threading.Lock()


def _start_lease_heartbeat(table_path: str, token: int, ttl_s: float) -> None:
    """Refresh the lock dir's mtime every ttl/4 while the holder works
    (ADVICE r4: a healthy writer whose Spark job exceeds the TTL must
    not have its lease stolen while alive). Stops itself the moment the
    lock's owner token is no longer ours — never refreshes a thief's
    lock."""
    stop = threading.Event()
    lock = _lock_dir(table_path)
    tok = str(token)
    interval = max(ttl_s / 4.0, 0.25)

    def run() -> None:
        # Known one-touch race (ADVICE r5, accepted for the local test
        # double): the ownership check and the utime are not atomic, so
        # a steal landing BETWEEN them gets its fresh lock touched once
        # by the displaced holder — delaying the next legitimate steal
        # by at most one TTL. Harmless here (the thief's fence token is
        # already newer); a real deployment's lease service makes
        # refresh conditional on ownership server-side.
        try:
            while not stop.wait(interval):
                if _lease_owner(table_path) != tok:
                    return  # stolen (or released): this lock isn't ours
                try:
                    os.utime(lock)
                except OSError:
                    return  # lock gone mid-touch
        finally:
            # self-exit (stolen lease) must not leak the registry entry
            # until release; identity-guarded so a same-key successor's
            # entry is never popped by a late finisher
            with _HB_LOCK:
                if _HEARTBEATS.get((table_path, token)) is stop:
                    _HEARTBEATS.pop((table_path, token), None)
    threading.Thread(
        target=run, daemon=True, name=f"lease-heartbeat-{token}"
    ).start()
    with _HB_LOCK:
        _HEARTBEATS[(table_path, token)] = stop


def _stop_lease_heartbeat(table_path: str, token: int | None) -> None:
    with _HB_LOCK:
        if token is not None:
            keys = [(table_path, token)]
        else:
            keys = [k for k in _HEARTBEATS if k[0] == table_path]
        for k in keys:
            ev = _HEARTBEATS.pop(k, None)
            if ev is not None:
                ev.set()


def _lease_owner(table_path: str) -> str | None:
    """Token recorded inside the lock dir by its current holder, or None
    when the lock is absent / not yet stamped."""
    try:
        with open(os.path.join(_lock_dir(table_path), "owner")) as f:
            return f.read().strip() or None
    except OSError:
        return None


def _claim_steal(lock_fd: int, ttl_s: float, now: Callable[[], float]) -> bool:
    """Win the right to remove the lock incarnation `lock_fd` pins.

    The claim is an O_EXCL `steal.<gen>` marker created INSIDE that
    directory, so it can only ever name the incarnation this contender
    judged stale, wherever a concurrent steal has moved it. A claimant
    that died before removing the lock leaves its marker behind; once
    that marker is older than `ttl_s` the next generation may be
    claimed, so a crashed stealer cannot wedge the table."""
    try:
        gens = [
            int(n.split(".", 1)[1])
            for n in os.listdir(lock_fd)
            if n.startswith("steal.")
        ]
        gen = 0
        if gens:
            last = max(gens)
            marked = os.stat(f"steal.{last}", dir_fd=lock_fd).st_mtime
            if now() - marked <= ttl_s:
                return False  # a live contender is mid-steal
            gen = last + 1
        os.close(
            os.open(
                f"steal.{gen}",
                os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                dir_fd=lock_fd,
            )
        )
    except OSError:
        # lost the marker race, or another contender already stole and
        # removed this incarnation
        return False
    return True


def acquire_table_lease(
    table_path: str,
    ttl_s: float = LOCK_LEASE_TTL_S,
    wait_s: float = 10.0,
    sleep: Callable[[float], None] = time.sleep,
    now: Callable[[], float] = time.time,
    monotonic: Callable[[], float] = time.monotonic,
) -> int:
    """Claim the table's writer lease; returns this writer's fencing
    token. Blocks up to `wait_s` for a live holder; steals claims older
    than `ttl_s` (crashed holder). A steal first wins `_claim_steal` on
    the exact incarnation it judged stale, then renames that lock aside,
    so of N contenders racing the same expired lease exactly one wins
    and the rest re-contend for the fresh mkdir.
    `now`/`monotonic` are injectable so steal-race tests can run on a
    fake clock instead of wall time (VERDICT r9 directive 5)."""
    lock = _lock_dir(table_path)
    deadline = monotonic() + wait_s
    while True:
        try:
            os.mkdir(lock)
            break
        except FileExistsError:
            try:
                fd = os.open(lock, os.O_RDONLY | os.O_DIRECTORY)
            except OSError:
                continue  # released between the mkdir and the open
            try:
                judged = os.fstat(fd)
                age = now() - judged.st_mtime
                # the claim can land in an incarnation another contender
                # already renamed aside (its marker dir is still being
                # removed), so rename only while the claimed incarnation
                # still sits at the lock path. The open fd keeps its
                # inode alive, so a fresh lock cannot reuse the number.
                won = (
                    age > ttl_s
                    and _claim_steal(fd, ttl_s, now)
                    and os.stat(lock).st_ino == judged.st_ino
                )
                if won:
                    stale = f"{lock}.stale.{uuid.uuid4().hex[:8]}"
                    os.rename(lock, stale)
            except OSError:
                continue  # the lock moved under us: re-contend
            finally:
                os.close(fd)
            if won:
                # Surface WHOSE lease was stolen and how stale it was
                # (VERDICT r5 directive 7): healthy writers heartbeat
                # every ttl/4, so last-refresh age >> ttl means
                # crashed-holder cleanup, while an age barely past the
                # TTL on a busy table hints at a clock/IO problem worth
                # investigating rather than routine GC. Read from the
                # renamed-aside dir: exactly the dir whose steal we won.
                try:
                    with open(os.path.join(stale, "owner")) as f:
                        stolen_owner = f.read().strip() or "?"
                except OSError:
                    stolen_owner = "?"
                _LOG.warning(
                    "stole expired writer lease on %s from token %s "
                    "(last heartbeat %.1fs ago, ttl %.1fs)",
                    table_path, stolen_owner, age, ttl_s,
                )
                shutil.rmtree(stale, ignore_errors=True)
                continue
            if monotonic() > deadline:
                raise TimeoutError(
                    f"writer lease busy after {wait_s}s: {lock}"
                )
            sleep(0.05)
    fence = _fence_path(table_path)
    try:
        with open(fence) as f:
            token = int(f.read().strip() or "0")
    except (OSError, ValueError):
        token = 0
    token += 1
    _atomic_write_text(fence, str(token))
    # stamp ownership so release/commit can detect a stolen lease
    try:
        _atomic_write_text(os.path.join(lock, "owner"), str(token))
    except OSError:
        pass  # lock stolen in the stamping window; fence check catches it
    _start_lease_heartbeat(table_path, token, ttl_s)
    return token


def release_table_lease(table_path: str, token: int | None = None) -> None:
    """Release the lease. With `token`, the release is OWNERSHIP-CHECKED:
    a writer whose lease was stolen (the lock now carries a different
    owner token) must NOT delete the new holder's lock — doing so would
    let a third writer acquire and interleave with the thief."""
    _stop_lease_heartbeat(table_path, token)
    if token is not None:
        owner = _lease_owner(table_path)
        if owner is not None and owner != str(token):
            return  # stolen: the lock belongs to someone else now
    shutil.rmtree(_lock_dir(table_path), ignore_errors=True)


def last_committed_token(table_path: str) -> int | None:
    try:
        with open(_commit_path(table_path)) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return None


def check_fence(table_path: str, token: int) -> None:
    """Abort (WriterFencedError) if this writer is stale: a newer (or
    equal, from a racing committer) token already committed, or the lock
    dir is now owned by a different token (lease stolen mid-commit).
    Called BEFORE every write and again at commit."""
    committed = last_committed_token(table_path)
    if committed is not None and committed >= token:
        raise WriterFencedError(
            f"writer token {token} is stale: token {committed} already "
            f"committed to {table_path} (lease was stolen mid-commit)"
        )
    owner = _lease_owner(table_path)
    if owner is not None and owner != str(token):
        raise WriterFencedError(
            f"writer token {token} lost its lease to token {owner} on "
            f"{table_path}; aborting before publishing stale output"
        )
    if owner is None:
        # nobody holds the lock, so this writer's own lease is gone
        # (released, or stolen and since released). If ANY newer token
        # was issued meanwhile, this caller is a zombie: fencing is
        # issue-ordered, not commit-ordered — a newer writer may be
        # about to act on state the zombie never saw. (Found by the
        # two-writer hypothesis model: a replayed epoch raises before
        # record_commit, so the commit-ordered check alone let the
        # released-but-never-committed token through.)
        try:
            with open(_fence_path(table_path)) as f:
                issued = int(f.read().strip() or "0")
        except (OSError, ValueError):
            issued = None
        if issued is not None and issued > token:
            raise WriterFencedError(
                f"writer token {token} is stale: token {issued} has "
                f"since been issued for {table_path} and the lease is "
                "released; aborting the zombie write"
            )


def record_commit(table_path: str, token: int) -> None:
    """Publish this writer's commit, refusing if the writer is fenced
    (the stolen-lease / stale-writer detection)."""
    check_fence(table_path, token)
    _atomic_write_text(_commit_path(table_path), str(token))
