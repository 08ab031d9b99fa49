from .decontam import decontaminate_flags  # noqa: F401
