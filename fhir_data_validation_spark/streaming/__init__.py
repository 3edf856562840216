from .validate import validate_stream, validate_stream_foreach_batch  # noqa: F401
from .monitor import violation_rates  # noqa: F401
from .stateful import (running_violation_totals,  # noqa: F401
                       running_violation_totals_tws)  # noqa: F401
from .snapshot_poll import SnapshotMonitor  # noqa: F401
from .sink import (IcebergStreamSink, audit_and_publish,  # noqa: F401
                   write_stream_to_table)
from .drift import batch_drift, drift_stream_foreach_batch  # noqa: F401
