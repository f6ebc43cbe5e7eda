"""Pure-numpy sketch kernels. No Spark imports allowed in this subpackage.

Importing any module here imports every kernel, so each has registered
its serde type id before ``serde.sketch_from_bytes`` meets a blob of it.
"""

from sketchlib.core import (bloom, cms, countsketch, fd, hll,  # noqa: F401
                            kll, sample, tdigest, theta)
