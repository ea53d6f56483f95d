"""PDF standard security handler (ISO 32000-1 §7.6): empty-password
RC4 / AES-CBC decryption.

Mirrors the reference's decrypt behavior: ``maybe_decrypt`` tries the empty
password and surfaces an error when a real password is required
(/root/reference/src/lib.rs:2230-2244; the crypto itself lives in lopdf).

Supported: R2 (40-bit RC4), R3 (RC4), R4 (RC4 / AESV2), R5+R6 (AES-256).
RC4 is implemented inline (10 lines, unrestricted); AES-CBC uses the
``cryptography`` package behind an import-try.
"""

from __future__ import annotations

import hashlib
import struct

PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
        0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


class WrongPasswordError(Exception):
    pass


def _rc4_pure(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % klen]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for k, b in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[k] = b ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


try:  # C-speed ARC4 when the cryptography package ships it
    from cryptography.hazmat.decrepit.ciphers.algorithms import ARC4 as _ARC4
    from cryptography.hazmat.primitives.ciphers import Cipher as _Cipher

    def rc4(key: bytes, data: bytes) -> bytes:
        enc = _Cipher(_ARC4(key), mode=None).encryptor()
        return enc.update(data) + enc.finalize()

except Exception:  # pragma: no cover - fallback for minimal environments
    rc4 = _rc4_pure


def aes_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """AES-CBC with leading 16-byte IV and PKCS#5 padding (PDF AESV2/V3)."""
    if len(data) < 16:
        return b""
    try:
        from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes
    except ImportError as e:  # pragma: no cover - baked into this env
        raise RuntimeError("AES decrypt requires the 'cryptography' package") from e
    iv, body = data[:16], data[16:]
    body = body[: len(body) - len(body) % 16]
    if not body:
        return b""
    dec = Cipher(algorithms.AES(key), modes.CBC(iv)).decryptor()
    out = dec.update(body) + dec.finalize()
    pad = out[-1] if out else 0
    if 1 <= pad <= 16:
        out = out[:-pad]
    return out


class StandardDecryptor:
    """Per-document decryptor for the /Standard security handler."""

    def __init__(self, encrypt: dict, doc_id: bytes, password: bytes = b""):
        self.v = int(encrypt.get("V", 0) or 0)
        self.r = int(encrypt.get("R", 2) or 2)
        self.length = int(encrypt.get("Length", 40) or 40) // 8
        self.p = int(encrypt.get("P", -1) or -1) & 0xFFFFFFFF
        o = bytes(encrypt.get("O") or b"")
        u = bytes(encrypt.get("U") or b"")
        self.o, self.u = o, u
        self.doc_id = doc_id
        self.encrypt_metadata = bool(encrypt.get("EncryptMetadata", True))
        # Per-class crypt-filter methods.  For V<4 both classes use the
        # document RC4 cipher; for V>=4 StmF / StrF name crypt filters in
        # /CF, defaulting to Identity (= pass-through, spec 7.6.5).
        self.cfm_stm = "V2"
        self.cfm_str = "V2"
        if self.v >= 4:
            cf = encrypt.get("CF") or {}

            def resolve(name: str) -> str:
                if name == "Identity":
                    return "Identity"
                entry = cf.get(name) if isinstance(cf, dict) else None
                if isinstance(entry, dict):
                    if "Length" in entry:
                        ln = int(entry["Length"])
                        self.length = ln // 8 if ln > 40 else ln  # some writers store bits
                    return str(entry.get("CFM", "V2"))
                return "Identity"

            self.cfm_stm = resolve(str(encrypt.get("StmF", "Identity")))
            self.cfm_str = resolve(str(encrypt.get("StrF", "Identity")))
        if self.r >= 5:
            self.key = self._auth_r56(password)
            self.cfm_stm = "AESV3" if self.cfm_stm != "Identity" else "Identity"
            self.cfm_str = "AESV3" if self.cfm_str != "Identity" else "Identity"
        else:
            self.key = self._compute_key_r234(password)
            if not self._verify_user_r234():
                raise WrongPasswordError("user password required")

    # -- key derivation -----------------------------------------------------

    def _compute_key_r234(self, password: bytes) -> bytes:
        padded = (password + PAD)[:32]
        h = hashlib.md5()
        h.update(padded)
        h.update(self.o[:32])
        h.update(struct.pack("<I", self.p))
        h.update(self.doc_id)
        if self.r >= 4 and not self.encrypt_metadata:
            h.update(b"\xff\xff\xff\xff")
        key = h.digest()
        n = self.length if self.r >= 3 else 5
        if self.r >= 3:
            for _ in range(50):
                key = hashlib.md5(key[:n]).digest()
        return key[:n]

    def _verify_user_r234(self) -> bool:
        if self.r == 2:
            expect = rc4(self.key, PAD)
            return expect == self.u[:32]
        # R3/R4 (Algorithm 5): MD5(PAD + ID), RC4 with key, then 19
        # more RC4 passes with XORed keys; compare first 16 bytes
        h = hashlib.md5(PAD + self.doc_id).digest()
        out = rc4(self.key, h)
        for i in range(1, 20):
            k = bytes(b ^ i for b in self.key)
            out = rc4(k, out)
        return out[:16] == self.u[:16]

    def _auth_r56(self, password: bytes) -> bytes:
        # AES-256 (R5 simplified / R6): validation + key unwrap via U/O
        pw = password[:127]
        valid_salt, key_salt = self.u[32:40], self.u[40:48]
        if self.r == 5:
            digest = hashlib.sha256(pw + valid_salt).digest()
        else:
            digest = self._hash_r6(pw, valid_salt, b"")
        if digest != self.u[:32]:
            raise WrongPasswordError("user password required (R5/6)")
        if self.r == 5:
            ikey = hashlib.sha256(pw + key_salt).digest()
        else:
            ikey = self._hash_r6(pw, key_salt, b"")
        ue = bytes((self._encrypt_dict_ue or b""))
        try:
            from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

            dec = Cipher(algorithms.AES(ikey), modes.CBC(b"\0" * 16)).decryptor()
            return dec.update(ue[:32]) + dec.finalize()
        except Exception as e:
            raise WrongPasswordError(f"AES-256 key unwrap failed: {e}") from e

    _encrypt_dict_ue: bytes | None = None

    @staticmethod
    def _hash_r6(pw: bytes, salt: bytes, udata: bytes) -> bytes:
        # ISO 32000-2 Algorithm 2.B
        k = hashlib.sha256(pw + salt + udata).digest()
        i = 0
        while True:
            k1 = (pw + k + udata) * 64
            from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

            enc = Cipher(algorithms.AES(k[:16]), modes.CBC(k[16:32])).encryptor()
            e = enc.update(k1) + enc.finalize()
            mod = sum(e[:16]) % 3
            if mod == 0:
                k = hashlib.sha256(e).digest()
            elif mod == 1:
                k = hashlib.sha384(e).digest()
            else:
                k = hashlib.sha512(e).digest()
            i += 1
            if i >= 64 and e[-1] <= i - 32:
                return k[:32]

    # -- per-object decryption ----------------------------------------------

    def object_key(self, num: int, gen: int, cfm: str) -> bytes:
        if cfm == "AESV3":
            return self.key
        h = hashlib.md5()
        h.update(self.key)
        h.update(struct.pack("<I", num)[:3])
        h.update(struct.pack("<I", gen)[:2])
        if cfm == "AESV2":
            h.update(b"sAlT")
        n = min(len(self.key) + 5, 16)
        return h.digest()[:n]

    def decrypt(self, data: bytes, num: int, gen: int, kind: str = "stm") -> bytes:
        """Decrypt stream (kind='stm') or string (kind='str') data.  An
        Identity crypt filter is a pass-through."""
        cfm = self.cfm_stm if kind == "stm" else self.cfm_str
        if cfm == "Identity":
            return data
        key = self.object_key(num, gen, cfm)
        if cfm in ("AESV2", "AESV3"):
            return aes_cbc_decrypt(key, data)
        return rc4(key, data)


# --------------------------------------------------------------------------
# Writer-side helpers (used by the deterministic encrypted fixtures)
# --------------------------------------------------------------------------


def compute_owner_value(user_pw: bytes = b"", owner_pw: bytes | None = None,
                        r: int = 3, n: int = 16) -> bytes:
    """Algorithm 3: the /O entry."""
    opw = owner_pw if owner_pw else user_pw
    h = hashlib.md5((opw + PAD)[:32]).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h).digest()
    key = h[:n]
    out = rc4(key, (user_pw + PAD)[:32])
    if r >= 3:
        for i in range(1, 20):
            out = rc4(bytes(b ^ i for b in key), out)
    return out


def compute_file_key(user_pw: bytes, o: bytes, p: int, doc_id: bytes,
                     r: int = 3, n: int = 16, encrypt_metadata: bool = True) -> bytes:
    """Algorithm 2: the file encryption key."""
    h = hashlib.md5()
    h.update((user_pw + PAD)[:32])
    h.update(o[:32])
    h.update(struct.pack("<I", p & 0xFFFFFFFF))
    h.update(doc_id)
    if r >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
        return key[:n]
    return key[:5]


def compute_user_value(key: bytes, doc_id: bytes, r: int = 3) -> bytes:
    """Algorithm 4/5: the /U entry."""
    if r == 2:
        return rc4(key, PAD)
    out = rc4(key, hashlib.md5(PAD + doc_id).digest())
    for i in range(1, 20):
        out = rc4(bytes(b ^ i for b in key), out)
    return out + b"\x00" * 16


def aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """AES-CBC with PKCS#5 padding, IV prepended (writer side)."""
    from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

    padlen = 16 - len(data) % 16
    data = data + bytes([padlen]) * padlen
    enc = Cipher(algorithms.AES(key), modes.CBC(iv)).encryptor()
    return iv + enc.update(data) + enc.finalize()


def make_decryptor(encrypt: dict, doc_id_first: bytes, password: bytes = b""):
    filt = str(encrypt.get("Filter", "Standard"))
    if filt != "Standard":
        raise WrongPasswordError(f"unsupported security handler {filt}")
    dec = StandardDecryptor.__new__(StandardDecryptor)
    # stash UE for R5/6 before __init__ uses it
    ue = encrypt.get("UE")
    dec._encrypt_dict_ue = bytes(ue) if ue is not None else None
    dec.__init__(encrypt, doc_id_first, password)
    return dec
