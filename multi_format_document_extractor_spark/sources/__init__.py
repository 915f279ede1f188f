from .pages import read_pages, with_format  # noqa: F401
