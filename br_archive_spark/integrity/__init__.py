from .crc import (CHECKSUM_ALGO, CHECKSUMS, ChecksumError, checksum_spec,
                  chunk_checksum, crc32c, crc32c_combine, crc_combine,
                  verify_chunk)

__all__ = ["crc32c", "crc32c_combine", "crc_combine", "chunk_checksum",
           "checksum_spec", "verify_chunk", "ChecksumError", "CHECKSUMS",
           "CHECKSUM_ALGO"]
