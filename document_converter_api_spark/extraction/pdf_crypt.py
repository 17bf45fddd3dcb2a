"""PDF Standard Security Handler — empty-user-password decryption (U2+).

The reference ships qpdf (/root/reference/Dockerfile:25) and so reads the
most common "encrypted" PDFs on a real crawl: files encrypted with an
OWNER password only (print/copy restrictions), whose USER password is
empty — any reader can open them. This module implements the public
ISO 32000-1 §7.6 / ISO 32000-2 §7.6.4 Standard security handler for
exactly that case:

* key derivation (Algorithm 2) for revisions R=2 (RC4-40), R=3/4
  (RC4-128 / AES-128 "AESV2");
* AES-256 "AESV3" (V=5): R=6 key derivation via the ISO 32000-2
  Algorithm 2.B iterated SHA-256/384/512 hash, plus the deprecated
  Adobe R=5 single-SHA-256 variant — /U validates the (empty) user
  password, /UE unwraps the 256-bit file key;
* user-password verification (Algorithms 4/5, resp. 2.A step f) — only
  an EMPTY user password is attempted; anything else stays tagged
  ``encrypted``;
* per-object keys (Algorithm 1; V=5 uses the file key directly) and
  RC4 / AES-CBC stream decryption.

All cipher primitives are self-contained pure Python (RC4 is ~10 lines;
AES-128/256 is the textbook FIPS-197 cipher with both directions, the
forward direction existing so tests can build real encrypted fixtures and
prove a round trip rather than pinning canned bytes). Pure Python; no
Spark imports; no third-party crypto.
"""

from __future__ import annotations

import functools as _functools
import hashlib
import struct

# ISO 32000-1 Table 21 padding string (Algorithm 2 step a)
PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


# ---------------------------------------------------------------------------
# RC4
# ---------------------------------------------------------------------------

def rc4(key: bytes, data: bytes) -> bytes:
    """RC4 stream cipher (symmetric: same call encrypts and decrypts)."""
    S = list(range(256))
    j = 0
    for i in range(256):
        j = (j + S[i] + key[i % len(key)]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for k, byte in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[k] = byte ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


# ---------------------------------------------------------------------------
# AES-128 (FIPS-197), CBC mode — decrypt for the extractor, encrypt so the
# test fixtures can produce REAL AESV2 files
# ---------------------------------------------------------------------------

_SBOX = bytes.fromhex(
    "637c777bf26b6fc53001672bfed7ab76ca82c97dfa5947f0add4a2af9ca472c0"
    "b7fd9326363ff7cc34a5e5f171d8311504c723c31896059a071280e2eb27b275"
    "09832c1a1b6e5aa0523bd6b329e32f8453d100ed20fcb15b6acbbe394a4c58cf"
    "d0efaafb434d338545f9027f503c9fa851a3408f929d38f5bcb6da2110fff3d2"
    "cd0c13ec5f974417c4a77e3d645d197360814fdc222a908846eeb814de5e0bdb"
    "e0323a0a4906245cc2d3ac629195e479e7c8376d8dd54ea96c56f4ea657aae08"
    "ba78252e1ca6b4c6e8dd741f4bbd8b8a703eb5664803f60e613557b986c11d9e"
    "e1f8981169d98e949b1e87e9ce5528df8ca1890dbfe6426841992d0fb054bb16")
_INV_SBOX = bytearray(256)
for _i, _v in enumerate(_SBOX):
    _INV_SBOX[_v] = _i
_INV_SBOX = bytes(_INV_SBOX)
_RCON = (0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36)


def _xtime(a: int) -> int:
    a <<= 1
    return (a ^ 0x1B) & 0xFF if a & 0x100 else a


def _mul(a: int, b: int) -> int:
    out = 0
    while b:
        if b & 1:
            out ^= a
        a = _xtime(a)
        b >>= 1
    return out


# GF(2^8) multiplication as 256-entry lookup tables for the MixColumns
# constants — the bit-loop _mul in the per-block hot path made encrypted
# PDFs ~30x slower per doc than plaintext ones; tables built once via the
# reference _mul (which stays as the spec/test twin).
_MUL = {c: bytes(_mul(x, c) for x in range(256))
        for c in (1, 2, 3, 9, 11, 13, 14)}

# 32-bit encryption T-tables (the classic Rijndael word-oriented
# formulation): each round becomes 16 table lookups + 16 XORs over four
# column words instead of per-byte SubBytes/ShiftRows/MixColumns passes.
# Round 4 added AES-256 R6, whose Algorithm 2.B hash AES-ENCRYPTS ~16k
# blocks per password — at the per-byte formulation's ~60 us/block that
# was ~1 s per hash. Only the forward direction is word-oriented: the
# decrypt path stays per-byte (stream decryption is a few hundred blocks
# per doc — never the bottleneck). Tables derive from the same
# _SBOX/_mul reference primitives; FIPS-197 known-answer tests pin both.
_TE0, _TE1, _TE2, _TE3 = [], [], [], []
for _x in range(256):
    _s = _SBOX[_x]
    _w = (_mul(_s, 2) << 24) | (_s << 16) | (_s << 8) | _mul(_s, 3)
    _TE0.append(_w)
    _TE1.append(((_w >> 8) | (_w << 24)) & 0xFFFFFFFF)
    _TE2.append(((_w >> 16) | (_w << 16)) & 0xFFFFFFFF)
    _TE3.append(((_w >> 24) | (_w << 8)) & 0xFFFFFFFF)
del _x, _s, _w


def _expand_key(key: bytes) -> list[bytes]:
    """FIPS-197 §5.2 key schedule: 128-bit → 11 round keys, 256-bit →
    15 round keys (Nk = 4 or 8, Nr = Nk + 6)."""
    nk = len(key) // 4
    if nk not in (4, 8):
        raise ValueError(f"unsupported AES key length {len(key)}")
    nr = nk + 6
    total = 4 * (nr + 1)
    words = [key[i:i + 4] for i in range(0, len(key), 4)]
    for i in range(nk, total):
        temp = words[i - 1]
        if i % nk == 0:
            temp = bytes((_SBOX[temp[1]] ^ _RCON[i // nk - 1],
                          _SBOX[temp[2]], _SBOX[temp[3]], _SBOX[temp[0]]))
        elif nk == 8 and i % nk == 4:
            # AES-256 extra SubWord (no rotate, no Rcon)
            temp = bytes(_SBOX[b] for b in temp)
        words.append(bytes(x ^ y for x, y in zip(words[i - nk], temp)))
    return [b"".join(words[i:i + 4]) for i in range(0, total, 4)]


def _add_round_key(s: bytearray, rk: bytes) -> None:
    for i in range(16):
        s[i] ^= rk[i]


# SubBytes + ShiftRows source-index permutations (column-major s[r + 4c]),
# precomputed so the per-round hot path is one comprehension per direction.
_SHIFT_PERM = {
    inv: [r + 4 * (((c - r) if inv else (c + r)) % 4)
          for c in range(4) for r in range(4)]
    for inv in (False, True)
}


def _sub_shift(s: bytearray, box: bytes, inv: bool) -> None:
    # SubBytes + ShiftRows fused
    t = bytes(s)
    s[:] = bytes(box[t[p]] for p in _SHIFT_PERM[inv])


def _mix_columns(s: bytearray, inv: bool) -> None:
    m = ((14, 11, 13, 9) if inv else (2, 3, 1, 1))
    t0, t1, t2, t3 = (_MUL[m[0]], _MUL[m[1]], _MUL[m[2]], _MUL[m[3]])
    for c in range(0, 16, 4):
        c0, c1, c2, c3 = s[c], s[c + 1], s[c + 2], s[c + 3]
        s[c] = t0[c0] ^ t1[c1] ^ t2[c2] ^ t3[c3]
        s[c + 1] = t3[c0] ^ t0[c1] ^ t1[c2] ^ t2[c3]
        s[c + 2] = t2[c0] ^ t3[c1] ^ t0[c2] ^ t1[c3]
        s[c + 3] = t1[c0] ^ t2[c1] ^ t3[c2] ^ t0[c3]


def _words_of_rks(rks: list[bytes]) -> list[tuple[int, int, int, int]]:
    return [tuple(int.from_bytes(rk[i:i + 4], "big") for i in (0, 4, 8, 12))
            for rk in rks]


def _aes_encrypt_words(wks, s0: int, s1: int, s2: int, s3: int):
    """One block through the T-table cipher; state is four column words."""
    k = wks[0]
    s0 ^= k[0]; s1 ^= k[1]; s2 ^= k[2]; s3 ^= k[3]  # noqa: E702
    te0, te1, te2, te3 = _TE0, _TE1, _TE2, _TE3
    for k in wks[1:-1]:
        t0 = (te0[s0 >> 24] ^ te1[(s1 >> 16) & 255]
              ^ te2[(s2 >> 8) & 255] ^ te3[s3 & 255] ^ k[0])
        t1 = (te0[s1 >> 24] ^ te1[(s2 >> 16) & 255]
              ^ te2[(s3 >> 8) & 255] ^ te3[s0 & 255] ^ k[1])
        t2 = (te0[s2 >> 24] ^ te1[(s3 >> 16) & 255]
              ^ te2[(s0 >> 8) & 255] ^ te3[s1 & 255] ^ k[2])
        t3 = (te0[s3 >> 24] ^ te1[(s0 >> 16) & 255]
              ^ te2[(s1 >> 8) & 255] ^ te3[s2 & 255] ^ k[3])
        s0, s1, s2, s3 = t0, t1, t2, t3
    k = wks[-1]
    sb = _SBOX
    return (
        ((sb[s0 >> 24] << 24) | (sb[(s1 >> 16) & 255] << 16)
         | (sb[(s2 >> 8) & 255] << 8) | sb[s3 & 255]) ^ k[0],
        ((sb[s1 >> 24] << 24) | (sb[(s2 >> 16) & 255] << 16)
         | (sb[(s3 >> 8) & 255] << 8) | sb[s0 & 255]) ^ k[1],
        ((sb[s2 >> 24] << 24) | (sb[(s3 >> 16) & 255] << 16)
         | (sb[(s0 >> 8) & 255] << 8) | sb[s1 & 255]) ^ k[2],
        ((sb[s3 >> 24] << 24) | (sb[(s0 >> 16) & 255] << 16)
         | (sb[(s1 >> 8) & 255] << 8) | sb[s2 & 255]) ^ k[3],
    )


def _aes_decrypt_block(rks: list[bytes], block: bytes) -> bytes:
    nr = len(rks) - 1
    s = bytearray(block)
    _add_round_key(s, rks[nr])
    for rnd in range(nr - 1, 0, -1):
        _sub_shift(s, _INV_SBOX, inv=True)
        _add_round_key(s, rks[rnd])
        _mix_columns(s, inv=True)
    _sub_shift(s, _INV_SBOX, inv=True)
    _add_round_key(s, rks[0])
    return bytes(s)


def aes_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """AESV2 stream layout: 16-byte IV prefix + ciphertext; PKCS#7 pad.
    Malformed input (bad length / bad padding) raises ValueError — the
    caller degrades to the ``encrypted`` tag rather than emitting noise."""
    if len(data) < 32 or len(data) % 16:
        raise ValueError("AES ciphertext not a whole number of blocks")
    rks = _expand_key(key)
    iv, ct = data[:16], data[16:]
    out = bytearray()
    prev = iv
    for i in range(0, len(ct), 16):
        block = ct[i:i + 16]
        dec = _aes_decrypt_block(rks, block)
        out.extend(x ^ y for x, y in zip(dec, prev))
        prev = block
    pad = out[-1]
    if not 1 <= pad <= 16 or out[-pad:] != bytearray([pad]) * pad:
        raise ValueError("bad AES-CBC padding")
    return bytes(out[:-pad])


def aes_cbc_encrypt(key: bytes, iv: bytes, plaintext: bytes) -> bytes:
    """Forward CBC with PKCS#7 pad and IV prefix (fixture builder)."""
    pad = 16 - (len(plaintext) % 16)
    return iv + aes_cbc_encrypt_nopad(key, iv,
                                      plaintext + bytes([pad]) * pad)


def aes_cbc_encrypt_nopad(key: bytes, iv: bytes, plaintext: bytes) -> bytes:
    """Raw CBC, no padding, no IV prefix — the mode ISO 32000-2 uses for
    the Algorithm 2.B hash rounds and the /UE//OE key wrap. CBC chaining
    stays in word space: one key-schedule word conversion per message,
    four int round-trips per block."""
    if len(plaintext) % 16:
        raise ValueError("CBC-nopad plaintext not a whole block multiple")
    wks = _words_of_rks(_expand_key(key))
    out = bytearray()
    p0 = int.from_bytes(iv[0:4], "big")
    p1 = int.from_bytes(iv[4:8], "big")
    p2 = int.from_bytes(iv[8:12], "big")
    p3 = int.from_bytes(iv[12:16], "big")
    for i in range(0, len(plaintext), 16):
        p0, p1, p2, p3 = _aes_encrypt_words(
            wks,
            p0 ^ int.from_bytes(plaintext[i:i + 4], "big"),
            p1 ^ int.from_bytes(plaintext[i + 4:i + 8], "big"),
            p2 ^ int.from_bytes(plaintext[i + 8:i + 12], "big"),
            p3 ^ int.from_bytes(plaintext[i + 12:i + 16], "big"))
        out.extend(p0.to_bytes(4, "big"))
        out.extend(p1.to_bytes(4, "big"))
        out.extend(p2.to_bytes(4, "big"))
        out.extend(p3.to_bytes(4, "big"))
    return bytes(out)


def aes_cbc_decrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Raw CBC decrypt, no padding, no IV prefix (/UE//OE unwrap)."""
    if len(data) % 16:
        raise ValueError("CBC-nopad ciphertext not a whole block multiple")
    rks = _expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        block = data[i:i + 16]
        dec = _aes_decrypt_block(rks, block)
        out.extend(x ^ y for x, y in zip(dec, prev))
        prev = block
    return bytes(out)


# ---------------------------------------------------------------------------
# Standard security handler algorithms (ISO 32000-1 §7.6.3)
# ---------------------------------------------------------------------------

def _padded(password: bytes) -> bytes:
    return (password + PAD)[:32]


def compute_key(o_entry: bytes, p: int, id0: bytes, r: int,
                length_bytes: int, password: bytes = b"",
                encrypt_metadata: bool = True) -> bytes:
    """Algorithm 2: file encryption key from the (user) password."""
    h = hashlib.md5(_padded(password))
    h.update(o_entry[:32])
    # low 32 bits little-endian: some producers write /P as the UNSIGNED
    # 32-bit value (e.g. 4294967252 for -44) — identical bytes either way,
    # and '<i' would raise struct.error on the unsigned form
    h.update(struct.pack("<I", p & 0xFFFFFFFF))
    h.update(id0)
    if r >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")
    key = h.digest()
    n = length_bytes if r >= 3 else 5
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    return key[:n]


def compute_o(owner_pw: bytes, user_pw: bytes, r: int,
              length_bytes: int) -> bytes:
    """Algorithm 3: the /O entry (fixture builder)."""
    key = hashlib.md5(_padded(owner_pw or user_pw)).digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key).digest()
    n = length_bytes if r >= 3 else 5
    rc4key = key[:n]
    o = rc4(rc4key, _padded(user_pw))
    if r >= 3:
        for i in range(1, 20):
            o = rc4(bytes(b ^ i for b in rc4key), o)
    return o


def compute_u(key: bytes, id0: bytes, r: int) -> bytes:
    """Algorithms 4 (R=2) / 5 (R>=3): the /U entry."""
    if r == 2:
        return rc4(key, PAD)
    u = rc4(key, hashlib.md5(PAD + id0).digest())
    for i in range(1, 20):
        u = rc4(bytes(b ^ i for b in key), u)
    return u + b"\x00" * 16


def verify_user_password(key: bytes, u_entry: bytes, id0: bytes,
                         r: int) -> bool:
    want = compute_u(key, id0, r)
    if r == 2:
        return u_entry[:32] == want
    return u_entry[:16] == want[:16]


# ---------------------------------------------------------------------------
# AES-256 revisions (ISO 32000-2 §7.6.4.3.4 Algorithm 2.B / §7.6.4.4.8;
# R=5 is the deprecated Adobe ExtensionLevel-3 single-SHA-256 variant)
# ---------------------------------------------------------------------------

@_functools.lru_cache(maxsize=256)
def hash_2b(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B: iterated SHA-256/384/512 password hash.

    At least 64 rounds; from round 64 on, stop once the last byte of the
    round's AES output E is ≤ (round − 32). ``udata`` is the 48-byte /U
    string when hashing an OWNER password, else empty.

    Deliberately expensive by spec (~16k AES blocks ≈ 0.4 s in this
    pure-Python core even with the T-table path) — it is a password KDF.
    The lru_cache makes cost per DISTINCT (password, salt, udata), so a
    corpus whose producer reused salts (the fixture does, corpus-wide)
    pays once; a real crawl with per-doc salts pays per doc, which is
    where a production deployment swaps in a C AES via a vectorized UDF
    batch — the call sites would not change."""
    k = hashlib.sha256(password + salt + udata).digest()
    rnd = 0
    while True:
        rnd += 1
        k1 = (password + k + udata) * 64
        e = aes_cbc_encrypt_nopad(k[:16], k[16:32], k1)
        k = (hashlib.sha256, hashlib.sha384,
             hashlib.sha512)[sum(e[:16]) % 3](e).digest()
        if rnd >= 64 and e[-1] <= rnd - 32:
            return k[:32]


def _hash_r56(password: bytes, salt: bytes, udata: bytes, r: int) -> bytes:
    if r == 5:
        return hashlib.sha256(password + salt + udata).digest()
    return hash_2b(password, salt, udata)


def verify_user_password_r6(u_entry: bytes, r: int,
                            password: bytes = b"") -> bool:
    """Algorithm 2.A step f (user path): hash(password, validation salt)
    must equal the first 32 bytes of the 48-byte /U string."""
    if len(u_entry) < 48:
        raise ValueError("AESV3 /U entry shorter than 48 bytes")
    return _hash_r56(password, u_entry[32:40], b"", r) == u_entry[:32]


def compute_key_r6(u_entry: bytes, ue_entry: bytes, r: int,
                   password: bytes = b"") -> bytes:
    """Algorithm 2.A step g (user path): the intermediate key
    hash(password, key salt) AES-256-CBC-decrypts /UE (zero IV, no
    padding) into the 256-bit file encryption key."""
    if len(u_entry) < 48 or len(ue_entry) < 32:
        raise ValueError("AESV3 /U or /UE entry too short")
    ik = _hash_r56(password, u_entry[40:48], b"", r)
    return aes_cbc_decrypt_nopad(ik, b"\x00" * 16, ue_entry[:32])


def compute_u_ue_r6(password: bytes, file_key: bytes, vsalt: bytes,
                    ksalt: bytes, r: int = 6) -> tuple[bytes, bytes]:
    """Fixture-side Algorithm 8: build the /U (48 bytes) and /UE (32
    bytes) entries for a chosen file key and salts."""
    u = _hash_r56(password, vsalt, b"", r) + vsalt + ksalt
    ik = _hash_r56(password, ksalt, b"", r)
    ue = aes_cbc_encrypt_nopad(ik, b"\x00" * 16, file_key)
    return u, ue


def compute_o_oe_r6(owner_pw: bytes, file_key: bytes, u_entry: bytes,
                    vsalt: bytes, ksalt: bytes,
                    r: int = 6) -> tuple[bytes, bytes]:
    """Fixture-side Algorithm 9: /O//OE — the owner hashes salt the full
    48-byte /U string as ``udata``."""
    o = _hash_r56(owner_pw, vsalt, u_entry[:48], r) + vsalt + ksalt
    ik = _hash_r56(owner_pw, ksalt, u_entry[:48], r)
    oe = aes_cbc_encrypt_nopad(ik, b"\x00" * 16, file_key)
    return o, oe


def compute_perms_r6(p: int, encrypt_metadata: bool, file_key: bytes,
                     rand4: bytes = b"\x00\x00\x00\x00") -> bytes:
    """Fixture-side Algorithm 10: the /Perms entry — 16 plaintext bytes
    (P as LE int32, 0xFF×4, 'T'/'F', 'adb', 4 free bytes) AES-256-ECB
    encrypted with the file key (ECB of one block == CBC with zero IV)."""
    block = (struct.pack("<i", p if p < 2 ** 31 else p - 2 ** 32)
             + b"\xff\xff\xff\xff"
             + (b"T" if encrypt_metadata else b"F") + b"adb" + rand4)
    return aes_cbc_encrypt_nopad(file_key, b"\x00" * 16, block)


def object_key(file_key: bytes, num: int, gen: int, aes: bool) -> bytes:
    """Algorithm 1: per-object key."""
    h = hashlib.md5(file_key + num.to_bytes(3, "little")
                    + gen.to_bytes(2, "little")
                    + (b"sAlT" if aes else b""))
    return h.digest()[:min(len(file_key) + 5, 16)]


class StandardDecryptor:
    """Per-object stream/string decryption for a verified file key.

    ``v5`` (AESV3): ISO 32000-2 drops the per-object MD5 derivation —
    every stream/string uses the 256-bit file key directly, same
    IV-prefix + PKCS#7 CBC stream layout."""

    def __init__(self, file_key: bytes, aes: bool, v5: bool = False):
        self.file_key = file_key
        self.aes = aes or v5
        self.v5 = v5

    def _key(self, num: int, gen: int) -> bytes:
        if self.v5:
            return self.file_key
        return object_key(self.file_key, num, gen, self.aes)

    def decrypt(self, num: int, gen: int, data: bytes) -> bytes:
        k = self._key(num, gen)
        if self.aes:
            return aes_cbc_decrypt(k, data)
        return rc4(k, data)

    def encrypt(self, num: int, gen: int, data: bytes,
                iv: bytes = b"\x00" * 16) -> bytes:
        """Fixture-side inverse (RC4 is symmetric; AES needs an IV)."""
        k = self._key(num, gen)
        if self.aes:
            return aes_cbc_encrypt(k, iv, data)
        return rc4(k, data)
