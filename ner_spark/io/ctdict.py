"""Binary automaton file compatibility: cedar ``.ct`` + darts ``.dct``
(figa file migration — both dialects figa_cedar.cpp:32-49 dispatches on).

The reference persists its gazetteer as a CEDAR double-array dump —
``save`` writes the raw node array, little-endian ``(int32 base_,
int32 check)`` pairs and nothing else (figa/src/cedar.h:231-236; the
shipped Makefile defines none of USE_FAST_LOAD/USE_REDUCED_TRIE, so
there is no ``.sbl`` sidecar and ``base()`` is the plain field) — and
selects the loader by the ``.ct`` extension (figa_cedar.cpp:32-41).

Trie semantics (cedar.h:417-435 ``_find``): child of node ``f`` under
byte ``c`` is ``base(f) ^ c``, valid iff its ``check == f``; a key's
value sits in the ``base_`` field of the label-0 child.  Free slots
carry negative ``check``.  Namelist multi-values are encoded as extra
keys: value ``k+1`` of a key lives at ``key + b'\\x01' * (k + 2)``
(figa_cedar.cpp:199-221 ``LoadItems``; walked back one ``\\x01`` at a
time by ``get_values``, figa_cedar.tpp:20-48).  The fragment marker
``N`` is value 0 (figa_cedar.cpp:101-102 ``get_numbers``) — the same
sentinel this repo's namelists use.

``read_ct`` decodes a figa-written ``.ct`` back into a namelist dict;
``write_ct`` builds a static XOR-addressed double array the unmodified
figa binary loads and queries (tests/test_ctdict.py compiles the
reference's figa from source when a toolchain is present and checks
lookups byte-for-byte).  This is MIGRATION tooling for existing binary
automata, driver-sized by design; the engine's runtime artifact remains
the KB image of kb/build.py's KB artifact, which SURVEY §2 S7/S11 cover.
"""

from __future__ import annotations

from collections import deque

import numpy as np

# cedar pads its array to 256-slot blocks (cedar.h block struct); keeping
# that invariant means base ^ c never indexes past the end for any byte c,
# because XOR with c < 256 stays inside the 256-aligned block of base.
_BLOCK = 256


class _SlotWindow:
    """Free-slot doubly-linked list over a sliding window of the newest
    256-slot blocks — darts-clone's own builder device (double-array
    builder: find_valid_offset searches the unfixed extras, FixBlock
    permanently retires blocks once more than NUM_EXTRA_BLOCKS trail
    the head; cedar's block free-lists serve the same end).  Shared by
    write_ct and write_dct: the placement scan walks only FREE slots in
    the window (candidate base = free slot ^ first label, so that child
    always lands on a free slot); a block that leaves the window has
    its remaining free slots unlinked for good and stays empty in the
    emitted file.  Near-linear total work AND compact output, vs a
    naive per-node scan that re-walks the dense low region for every
    node (hours on a production-size namelist).  Neither file format
    constrains WHICH base a node uses — figa-lookup parity is what
    tests/test_ctdict.py pins."""

    def __init__(self, window_blocks: int = 16):
        self.used = bytearray(_BLOCK)
        self.nxt = list(range(1, _BLOCK + 1))
        self.nxt[-1] = -1
        self.prv = list(range(-1, _BLOCK - 1))
        self.head = 1
        self.tail = _BLOCK - 1
        self.window_blocks = window_blocks
        self.oldest_block = 0
        self.occupy(0)         # root lives at slot 0

    def unlink(self, s: int) -> None:
        p, q = self.prv[s], self.nxt[s]
        if p == -1:
            self.head = q
        else:
            self.nxt[p] = q
        if q == -1:
            self.tail = p
        else:
            self.prv[q] = p

    def occupy(self, s: int) -> None:
        self.used[s] = 1
        self.unlink(s)

    def grow_block(self) -> int:
        """Append one fresh block (caller extends its own payload arrays
        by _BLOCK); fix the oldest block if the window is full.  Returns
        the new block's first slot."""
        n = len(self.used)
        self.used.extend(b"\x00" * _BLOCK)
        self.nxt.extend(range(n + 1, n + _BLOCK + 1))
        self.nxt[-1] = -1
        self.prv.extend(range(n - 1, n + _BLOCK - 1))
        if self.tail == -1:
            self.head, self.prv[n] = n, -1
        else:
            self.nxt[self.tail], self.prv[n] = n, self.tail
        self.tail = n + _BLOCK - 1
        if (n >> 8) - self.oldest_block >= self.window_blocks:
            lo = self.oldest_block << 8
            for s in range(lo, lo + _BLOCK):
                if not self.used[s]:
                    self.unlink(s)
            self.oldest_block += 1
        return n


def _expand_items(items) -> list[tuple[bytes, int]]:
    """Namelist (key → ordered values) → cedar key set per LoadItems:
    first value on the key itself, value k+1 on key + 0x01*(k+2)."""
    out: list[tuple[bytes, int]] = []
    for key, ids in items:
        kb = key.encode("utf-8")
        for j, v in enumerate(ids):
            out.append((kb if j == 0 else kb + b"\x01" * (j + 2), int(v)))
    return out


def write_ct(items, path: str) -> int:
    """Compile namelist items into a figa-loadable ``.ct`` double array.

    ``items``: iterable of (key, ordered value list) — e.g.
    ``build_namelist(...).items()`` or ``GazetteerAutomaton.iter_keys()``.
    Static XOR packing, sliding-window free-list (deterministic for a
    given input — no randomness); returns the node count
    written.  Keys must not contain NUL or 0x01 bytes (0x01 is the
    multi-value escape, NUL the value label)."""
    entries = _expand_items(items)
    for kb, _ in entries:
        if b"\x00" in kb or b"\x01" in kb.rstrip(b"\x01"):
            raise ValueError(f"key not representable in .ct: {kb!r}")

    # byte-trie: node = {label: child_node}, value under the -1 sentinel
    root: dict = {}
    for kb, v in entries:
        node = root
        for b in kb:
            node = node.setdefault(b, {})
        node[-1] = v

    # base scan via the shared _SlotWindow (free slots of a cedar dump
    # stay free-list entries — check -1 — in the file); the cedar check
    # field validates traversal, so any base placement is format-valid
    pool = _SlotWindow()
    used = pool.used
    base_arr = [0] * _BLOCK
    check_arr = [-1] * _BLOCK

    # BFS so parent slots are fixed before children are placed
    queue: deque[tuple[int, dict]] = deque([(0, root)])
    while queue:
        slot, node = queue.popleft()
        labels = sorted(0 if l == -1 else l for l in node)
        if not labels:
            continue
        l0 = labels[0]
        b = -1
        s = pool.head
        while s != -1:
            cand = s ^ l0
            if all(not used[cand ^ l] and (cand ^ l) != 0 for l in labels):
                b = cand
                break
            s = pool.nxt[s]
        if b < 0:              # window exhausted: take a virgin block
            b = pool.grow_block()
            base_arr.extend([0] * _BLOCK)
            check_arr.extend([-1] * _BLOCK)
        base_arr[slot] = b
        for l in labels:
            child = b ^ l
            pool.occupy(child)
            check_arr[child] = slot
            sub = node[-1 if l == 0 else l]
            if l == 0:
                base_arr[child] = sub          # the value leaf
            else:
                queue.append((child, sub))

    arr = np.empty((len(used), 2), dtype="<i4")
    arr[:, 0] = base_arr
    arr[:, 1] = check_arr
    arr.tofile(path)
    return len(used)


def read_ct(path: str) -> dict[str, list[int]]:
    """Decode a ``.ct`` (cedar node dump — figa-written or write_ct's)
    back into a namelist dict (key → values in namelist order)."""
    arr = np.fromfile(path, dtype="<i4")
    if arr.size % 2:
        raise ValueError(f"{path}: odd int32 count, not a cedar node dump")
    arr = arr.reshape(-1, 2)
    base, check = arr[:, 0], arr[:, 1]
    n = len(arr)
    if n == 0:
        return {}

    # in-use nodes have check >= 0 (free-list entries are negative);
    # node 0 is the root whatever its check says
    idx = np.arange(n)
    in_use = (check >= 0) & (idx != 0) & (check < n)
    # a node's label: base(parent) ^ self — genuine children land < 256
    label = np.where(in_use, base[np.clip(check, 0, n - 1)] ^ idx, -1)
    valid = in_use & (label >= 0) & (label < 256)
    # guard against free-list slots that happen to look positive:
    # require parent's base to actually address the child
    terminals = idx[valid & (label == 0)]

    parent = check  # alias for walk-up readability
    out: dict[str, list[tuple[int, int]]] = {}
    for t in terminals.tolist():
        p = int(parent[t])
        bs = bytearray()
        ok = True
        while p != 0:
            if not valid[p]:
                ok = False
                break
            bs.append(int(label[p]))
            p = int(parent[p])
        if not ok:
            continue
        bs.reverse()
        kb = bytes(bs)
        core = kb.rstrip(b"\x01")
        n01 = len(kb) - len(core)
        if n01 == 1 or (n01 == 0 and not core):
            continue  # no 1-deep \x01 node carries a value; skip junk
        pos = 0 if n01 == 0 else n01 - 2
        try:
            key = core.decode("utf-8")
        except UnicodeDecodeError:
            continue
        out.setdefault(key, []).append((pos, int(base[t])))

    return {k: [v for _, v in sorted(pv)] for k, pv in out.items()}


# -- darts-clone .dct --------------------------------------------------------
#
# The second binary dialect (figa_cedar.cpp:43-49 selects it by the .dct
# extension).  File = raw little-endian uint32 units (darts.h:430-436
# save / :327-380 open).  Unit fields (darts.h:50-75): label = bits 0-7
# (bit 31 must be clear for a real node), has_leaf = bit 8, offset =
# bits 10-30 shifted left 8 when bit 9 is set; a LEAF unit is bit 31 |
# value (its label() is invalid by construction).  Traversal
# (darts.h:439-470): child = pos ^ offset(pos) ^ byte, valid iff the
# child unit's label == byte; the value leaf sits at pos ^ offset(pos).

_LEAF_BIT = 1 << 31
_HAS_LEAF = 1 << 8
_EXT_BIT = 1 << 9
_MAX_DIRECT = (1 << 21) - 1


def _encode_offset(unit: int, o: int) -> int:
    if o <= _MAX_DIRECT:
        return unit | (o << 10)
    if o % 256 or (o >> 8) > _MAX_DIRECT:  # pragma: no cover - huge tries
        raise ValueError(f"offset {o} not encodable in a darts unit")
    return unit | ((o >> 8) << 10) | _EXT_BIT


def _offset_encodable(o: int) -> bool:
    """Past ~2M units a darts offset only encodes when 256-aligned
    (_EXT_BIT, darts.h:66-70) — the builder must pick bases accordingly,
    exactly like darts-clone's own keyset build does."""
    return o <= _MAX_DIRECT or (o % 256 == 0 and (o >> 8) <= _MAX_DIRECT)


def write_dct(items, path: str) -> int:
    """Compile namelist items into a figa-loadable darts-clone ``.dct``.
    Same key/value conventions as write_ct; returns the unit count."""
    entries = _expand_items(items)
    for kb, v in entries:
        if b"\x00" in kb or b"\x01" in kb.rstrip(b"\x01"):
            raise ValueError(f"key not representable in .dct: {kb!r}")
        if v < 0 or v >= _LEAF_BIT:
            raise ValueError(f"value {v} out of darts 31-bit range")

    root: dict = {}
    for kb, v in entries:
        node = root
        for b in kb:
            node = node.setdefault(b, {})
        node[-1] = v

    # darts traversal has no check field: a transition is accepted purely
    # by (base ^ byte) landing on a unit with that label, so two nodes
    # sharing a base would alias each other's children (false positives
    # in the REFERENCE's own exactMatchSearch, and cycles in any decoder).
    # darts-clone's builder guarantees base uniqueness; so must we.
    used_base: set[int] = set()
    # base scan via the shared _SlotWindow (fixed free slots stay
    # 0-units in the file, exactly what darts treats as non-matching)
    pool = _SlotWindow()
    used = pool.used
    units = [0] * _BLOCK

    # BFS: (position, trie node); each node's unit already carries its
    # label (and bit31-free) — we add offset/has_leaf when popped
    queue: deque[tuple[int, dict]] = deque([(0, root)])
    while queue:
        pos, node = queue.popleft()
        has_value = -1 in node
        labels = sorted(l for l in node if l != -1)
        slots = ([0] if has_value else []) + labels
        if not slots:
            continue
        l0 = slots[0]
        base = -1
        s = pool.head
        while s != -1:
            cand = s ^ l0      # child l0 lands on the free slot s itself
            if cand != pos and cand not in used_base and \
                    _offset_encodable(pos ^ cand) and \
                    all(not used[cand ^ l] and (cand ^ l) != 0
                        for l in slots):
                base = cand
                break
            s = pool.nxt[s]
        if base < 0:           # window exhausted: take a virgin block
            n0 = pool.grow_block()
            units.extend([0] * _BLOCK)
            # low byte matched to pos → offset low byte 0, so it stays
            # encodable however far the tail is (256-aligned _EXT_BIT form)
            base = n0 | (pos & 0xFF)
        o = pos ^ base
        used_base.add(base)
        if pos == 0 and o >= 512:  # pragma: no cover - open() sanity bound
            raise ValueError("root offset >= 512; input too adversarial")
        units[pos] = _encode_offset(
            units[pos] | (_HAS_LEAF if has_value else 0), o)
        if has_value:
            leaf = pos ^ o
            pool.occupy(leaf)
            units[leaf] = _LEAF_BIT | int(node[-1])
        for l in labels:
            child = pos ^ o ^ l
            pool.occupy(child)
            units[child] = l
            queue.append((child, node[l]))

    # darts' open() reads the first 256 units for a sanity probe and
    # requires every unit's offset to stay inside the array
    arr = np.asarray(units, dtype="<u4")
    arr.tofile(path)
    return len(units)


def read_dct(path: str) -> dict[str, list[int]]:
    """Decode a ``.dct`` (darts-clone unit dump — figa-written or
    write_dct's) back into a namelist dict."""
    units = np.fromfile(path, dtype="<u4")
    n = len(units)
    if n == 0:
        return {}
    label = units & 0xFF
    is_node = (units & _LEAF_BIT) == 0
    offset = (units >> 10).astype(np.int64) << ((units & _EXT_BIT) >> 6)
    has_leaf = (units & _HAS_LEAF) != 0

    out: dict[str, list[tuple[int, int]]] = {}
    stack: list[tuple[int, bytes]] = [(0, b"")]
    seen = {0}  # every unit has one parent; guards malformed files
    while stack:
        pos, key = stack.pop()
        o = int(offset[pos])
        if has_leaf[pos]:
            leaf = pos ^ o
            if leaf < n and not is_node[leaf]:
                core = key.rstrip(b"\x01")
                n01 = len(key) - len(core)
                if n01 != 1 and (core or n01):
                    try:
                        k = core.decode("utf-8")
                    except UnicodeDecodeError:
                        k = None
                    if k is not None:
                        v = int(units[leaf] & (_LEAF_BIT - 1))
                        out.setdefault(k, []).append(
                            (0 if n01 == 0 else n01 - 2, v))
        base = pos ^ o
        for c in range(1, 256):
            child = base ^ c
            if child < n and child != 0 and child not in seen \
                    and is_node[child] and int(label[child]) == c:
                seen.add(child)
                stack.append((child, key + bytes([c])))

    return {k: [v for _, v in sorted(pv)] for k, pv in out.items()}
