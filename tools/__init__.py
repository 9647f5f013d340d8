"""Command-line tools for the engine; each runs as ``python tools/<name>.py``
from the repository root, and tests import them as ``tools.<name>``."""
