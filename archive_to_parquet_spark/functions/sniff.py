"""Magic-byte format detection (S9/S10, X5).

Pure-Python port of the reference's two-stage sniff:

1. Compression detection from a 6-byte peek (reference
   src/anyreader/compression.rs:36-63; zstd skippable frames :77-92).
2. Container/executable refinement from a 262-byte peek (reference
   src/anyreader/format.rs:15-52; executable magics :30-40; tar's
   ``ustar`` marker at offset 257).

These run only inside the ingest walker (driver/executor Python), never
as a per-row UDF on a DataFrame.
"""

from __future__ import annotations

# -- stage 1: compression magics (6 bytes is enough for all of them) --------

_GZIP_MAGIC = b"\x1f\x8b"
_BZIP2_MAGIC = b"BZh"
_XZ_MAGIC = b"\xfd7zXZ\x00"
_ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"
# zstd skippable frames: 0x184D2A5? little-endian (reference compression.rs:84-90)
_ZSTD_SKIPPABLE_LO = 0x184D2A50
_ZSTD_SKIPPABLE_HI = 0x184D2A5F


def _is_zstd(buf: bytes) -> bool:
    if buf[:4] == _ZSTD_MAGIC:
        return True
    if len(buf) >= 4:
        frame = int.from_bytes(buf[:4], "little")
        if _ZSTD_SKIPPABLE_LO <= frame <= _ZSTD_SKIPPABLE_HI:
            return True
    return False


def detect_compression(peek: bytes) -> str | None:
    """Return 'gzip'|'bzip2'|'xz'|'zstd' or None for a stream prefix."""
    if peek[:2] == _GZIP_MAGIC:
        return "gzip"
    if peek[:3] == _BZIP2_MAGIC:
        return "bzip2"
    if peek[:6] == _XZ_MAGIC:
        return "xz"
    if _is_zstd(peek):
        return "zstd"
    return None


# -- stage 2: container / executable refinement (262-byte peek) -------------

PEEK_SIZE = 262  # tar ustar magic sits at offset 257 (format.rs:15-52)

_ZIP_MAGIC = b"PK\x03\x04"

# Executable magics (reference src/anyreader/format.rs:30-40).
_EXECUTABLE_PREFIXES = (
    b"\x7fELF",  # ELF
    b"\xfe\xed\xfa\xce",  # Mach-O 32 BE
    b"\xfe\xed\xfa\xcf",  # Mach-O 64 BE
    b"\xce\xfa\xed\xfe",  # Mach-O 32 LE
    b"\xcf\xfa\xed\xfe",  # Mach-O 64 LE
    b"\xca\xfe\xba\xbe",  # Mach-O fat / Java class (shared magic)
    b"dex\n",  # DEX
    b"BC\xc0\xde",  # LLVM bitcode
    b"MZ",  # DOS/PE EXE & DLL
    b"\x00asm",  # WASM
    b"\x4c\x01",  # COFF i386
    b"\x64\x86",  # COFF x86-64
)


def is_executable_magic(peek: bytes) -> bool:
    return peek.startswith(_EXECUTABLE_PREFIXES)


def _is_tar(peek: bytes) -> bool:
    return len(peek) >= 262 and peek[257:262] == b"ustar"


def detect_format(peek: bytes, compression: str | None = None) -> str:
    """Classify a (decompressed) stream prefix into a FormatKind string.

    Mirrors ``AnyFormat::from_reader`` (reference format.rs:15-52): tar/zip
    win over the compression kind; executables are a leaf class; otherwise
    keep the outer compression kind or 'unknown'. ar and cpio (newc/crc)
    are beyond-reference container kinds the walker also recurses into.
    """
    if _is_tar(peek):
        return "tar"
    if peek[:4] == _ZIP_MAGIC:
        return "zip"
    if peek[:8] == b"!<arch>\n":
        return "ar"
    if peek[:6] in (b"070701", b"070702"):
        return "cpio"
    if peek[:5] == b"WARC/":
        return "warc"
    # leaf-labeled container kinds: decodable only with external codec
    # libraries, so they are classified (for routing/inventory) but
    # emitted as opaque leaves, never recursed
    if peek[:6] == b"7z\xbc\xaf\x27\x1c":
        return "7z"
    if peek[:7] == b"Rar!\x1a\x07\x00" or peek[:8] == b"Rar!\x1a\x07\x01\x00":
        return "rar"
    # columnar/table leaf kinds: labeled so downstream can route them
    # (sources/members.py reads parquet members back into rows)
    if peek[:4] == b"PAR1":
        return "parquet"
    if peek[:3] == b"ORC":
        return "orc"
    if peek[:4] == b"Obj\x01":
        return "avro"
    if is_executable_magic(peek):
        return "executable"
    return compression or "unknown"
