"""Error wrapping, mirroring the reference's ProcessorError semantics
(reference ``dataflows/base/exceptions.py:5-16``): any stage failure is
wrapped with the stage name and position so users can locate it.
"""

from __future__ import annotations


class ProcessorError(Exception):
    def __init__(self, cause: BaseException, *, processor_name: str, processor_position: int):
        self.cause = cause
        self.processor_name = processor_name
        self.processor_position = processor_position
        super().__init__(
            f"stage #{processor_position} ({processor_name}) failed: {cause!r}"
        )

