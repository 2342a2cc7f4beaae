"""Pipeline configuration.

The reference's CLI flags (reference: /root/reference/src/params.rs:6-39)
become one frozen dataclass. Key departures from the reference, by design:

- the hash seed is FIXED and configurable (the reference draws a random seed
  per run, /root/reference/src/server.rs:38-39) — determinism is a hard
  requirement for the recall gate and the DuckDB oracle;
- ``strict`` selects how far verification goes (the reference only switches
  full-hash vs first-16KiB-hash, /root/reference/src/processor.rs:61-64).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

#: byte-size literal multipliers (H7 — reference: src/params.rs:42-50 parses
#: "100B/1K/2M/3G/4T" style literals via the bytesize crate: SI decimal for
#: kb/mb/..., binary for kib/mib/...).
_SIZE_UNITS = {
    "": 1, "b": 1,
    "k": 10**3, "kb": 10**3, "kib": 2**10,
    "m": 10**6, "mb": 10**6, "mib": 2**20,
    "g": 10**9, "gb": 10**9, "gib": 2**30,
    "t": 10**12, "tb": 10**12, "tib": 2**40,
}


def parse_size(value: int | str) -> int:
    """'100kb' → 100_000; ints pass through. Case-insensitive, optional
    whitespace between number and unit (H7)."""
    if isinstance(value, int):
        return value
    m = re.fullmatch(r"\s*(\d+(?:\.\d+)?)\s*([a-zA-Z]*)\s*", value)
    if not m or m.group(2).lower() not in _SIZE_UNITS:
        raise ValueError(f"unparseable size literal: {value!r}")
    return int(float(m.group(1)) * _SIZE_UNITS[m.group(2).lower()])


@dataclass(frozen=True)
class DedupConfig:
    # ---- filters (reference: src/params.rs, src/scanner.rs) -------------
    #: minimum assembled-conversation size in chars; accepts an int or a
    #: byte-size literal ("100kb"). The reference default is 1 byte, i.e.
    #: empty files never dedup (src/params.rs:22, scanner.rs:103).
    min_size: int | str = 1
    #: include-only these tool labels (≈ --types, src/scanner.rs:34-38).
    include_tools: tuple[str, ...] = ()
    #: drop these tool labels (≈ --exclude-types, src/scanner.rs:40-43).
    exclude_tools: tuple[str, ...] = ()
    #: bounds on turn_idx (≈ --min-depth/--max-depth, src/scanner.rs:55-67).
    min_turn_idx: int | None = None
    max_turn_idx: int | None = None

    # ---- exact tier (reference: src/fileinfo.rs:27-48) ------------------
    #: chars of assembled doc hashed by the fast/prefix tier (the reference
    #: hashes the first 16,384 bytes, src/fileinfo.rs:42-48).
    prefix_len: int = 16384
    #: strict ⇒ duplicate requires full-content hash equality; fast ⇒ prefix
    #: hash equality suffices (src/processor.rs:61-64).
    strict: bool = False

    # ---- near-dup tier (north rule; no reference analog) ----------------
    #: char-shingle width for MinHash.
    shingle_k: int = 9
    #: MinHash permutations; must equal lsh_bands * lsh_rows.
    num_perm: int = 128
    #: 32 bands × 4 rows: S-curve midpoint (1/32)^(1/4) ≈ 0.42, i.e. pairs at
    #: the 0.7 verification threshold are caught with p ≈ 0.9998 — recall is
    #: bought at candidate-generation time and precision restored by verify.
    lsh_bands: int = 32
    lsh_rows: int = 4
    #: Jaccard threshold a verified candidate pair must meet.
    jaccard_threshold: float = 0.7
    #: verify candidates with exact shingle Jaccard (pandas UDF) instead of
    #: the cheap signature-agreement estimate.
    exact_verify: bool = False
    #: cap on members of one LSH band bucket; bigger buckets are broken up
    #: deterministically and the overflow is logged (never silently dropped).
    band_bucket_cap: int = 2000

    # ---- SimHash tier ----------------------------------------------------
    #: max Hamming distance for a SimHash near-exact match; the banding's
    #: block count follows the distinct-fingerprint count
    #: (simhash.pick_band_blocks) and never changes the pair set.
    simhash_hamming: int = 3

    # ---- suffix / shared-span tier ---------------------------------------
    #: minimum shared-substring length (chars) the span stage reports.
    min_span_len: int = 4096
    #: anchor sampling rate: one anchor per ~this many chars (winnowing-ish).
    span_anchor_mod: int = 64
    #: per-doc char cap inside the span-verify UDF (memory bound).
    span_doc_cap: int = 1_000_000

    # ---- determinism ------------------------------------------------------
    #: seed for MinHash permutations & SimHash token hashing. Fixed, unlike
    #: the reference's per-run random seed (src/server.rs:38-39).
    seed: int = 42

    # ---- execution --------------------------------------------------------
    #: max connected-components iterations before declaring non-convergence.
    cc_max_iters: int = 25

    def __post_init__(self) -> None:
        object.__setattr__(self, "min_size", parse_size(self.min_size))
        if self.num_perm != self.lsh_bands * self.lsh_rows:
            raise ValueError(
                f"num_perm ({self.num_perm}) must equal "
                f"lsh_bands*lsh_rows ({self.lsh_bands}*{self.lsh_rows})"
            )
