"""Seeded inputs for the lake benchmark.

Every message is a golden-corpus ER7 template (``hl7.corpus``) with its
own MSH-10 control id, so no two generated messages share a content
hash unless the generator makes one a deliberate replay.  The generator
also returns what the pipeline must do with each message, so a run can
check every batch against it.
"""

from __future__ import annotations

import base64
import hashlib
import random
from dataclasses import dataclass

from hcls_data_lake_spark.hl7.corpus import corpus_messages

INSTITUTIONS = ("hospital_a", "hospital_b", "clinic_c", "lab_d", "imaging_e")

JUNK_SHARE = 0.05        # payloads that are not HL7 and must dead-letter
NO_CLAIM_SHARE = 0.07    # writes without a write claim (authz 403)
REPLAY_SHARE = 0.10      # resends of a message already in the registry

_TEMPLATES = [msg for _, msg in corpus_messages()]


def sha256_hex(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def b64(text: str) -> str:
    return base64.b64encode(text.encode("utf-8")).decode("ascii")


def er7_message(rng: random.Random, control_id: str) -> str:
    """A corpus template with MSH-10 replaced by ``control_id``."""
    segments = rng.choice(_TEMPLATES).split("\r")
    fields = segments[0].split("|")
    fields[9] = control_id
    segments[0] = "|".join(fields)
    return "\r".join(segments)


def junk_message(rng: random.Random, control_id: str) -> str:
    return f"NOT-HL7 {control_id} {rng.getrandbits(64):016x}"


def registry_messages(seed: int, size: int) -> list[str]:
    """The messages already admitted before the benchmark starts."""
    rng = random.Random(f"registry-{seed}")
    return [er7_message(rng, f"REG{seed}-{i}") for i in range(size)]


@dataclass(frozen=True)
class WireBatch:
    """One front-door batch and the outcome the pipeline owes it.
    Messages without a write claim and claimed replays of registry
    content must not be admitted; every other message is admitted and
    then staged when it parses, dead-lettered when it does not."""

    rows: list[tuple[int, str, str | None]]  # message_id, msg_b64, claim
    input_bytes: int
    staged: frozenset[int]
    errored: frozenset[int]

    @property
    def admitted(self) -> frozenset[int]:
        return self.staged | self.errored


def wire_batch(seed: int, index: int, size: int, registry: list[str]) -> WireBatch:
    """Batch ``index`` of the run seeded by ``seed``; message ids are
    unique across the batches of one run."""
    rng = random.Random(f"batch-{seed}-{index}")
    rows = []
    staged, errored = set(), set()
    for i in range(size):
        mid = index * size + i
        u = rng.random()
        if u < REPLAY_SHARE:
            text, parseable, replay = rng.choice(registry), True, True
        elif u < REPLAY_SHARE + JUNK_SHARE:
            text, parseable, replay = junk_message(rng, f"B{seed}-{mid}"), False, False
        else:
            text, parseable, replay = er7_message(rng, f"B{seed}-{mid}"), True, False
        claim = None if rng.random() < NO_CLAIM_SHARE else rng.choice(INSTITUTIONS)
        rows.append((mid, b64(text), claim))
        if claim is not None and not replay:
            (staged if parseable else errored).add(mid)
    return WireBatch(
        rows=rows,
        input_bytes=sum(len(r[1]) for r in rows),
        staged=frozenset(staged),
        errored=frozenset(errored),
    )
