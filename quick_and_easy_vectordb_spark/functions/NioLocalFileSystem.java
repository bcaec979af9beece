package qev.fs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;
import java.util.concurrent.atomic.AtomicLong;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed {@code file://} FileSystem with permissions set through
 * java.nio instead of a forked {@code chmod}. Without the native libhadoop
 * (pip's pyspark ships none), {@link RawLocalFileSystem#setPermission} runs
 * {@code chmod} as a child process, and every local write calls it: once per
 * directory, once per data file and once per {@code .crc} file. session.py
 * binds the {@code file} scheme to this class ({@code fs.file.impl}) and to
 * {@link Fs} ({@code fs.AbstractFileSystem.file.impl}, the FileContext path
 * streaming checkpoints write through). Modes come out the same; only the
 * process starts go.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  private static final AtomicLong SET = new AtomicLong();
  private static final AtomicLong DEFERRED = new AtomicLong();

  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** setPermission calls on {@link Raw} since the JVM started, deferred ones included. */
  public static long permissionsSet() {
    return SET.get();
  }

  /** The calls of {@link #permissionsSet} handed to Hadoop's own chmod. */
  public static long permissionsDeferred() {
    return DEFERRED.get();
  }

  /** The raw (unchecksummed) file system under both bindings. */
  public static class Raw extends RawLocalFileSystem {
    private static final PosixFilePermission[] BITS = {
      PosixFilePermission.OTHERS_EXECUTE,
      PosixFilePermission.OTHERS_WRITE,
      PosixFilePermission.OTHERS_READ,
      PosixFilePermission.GROUP_EXECUTE,
      PosixFilePermission.GROUP_WRITE,
      PosixFilePermission.GROUP_READ,
      PosixFilePermission.OWNER_EXECUTE,
      PosixFilePermission.OWNER_WRITE,
      PosixFilePermission.OWNER_READ,
    };

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      SET.incrementAndGet();
      int mode = permission.toShort();
      if ((mode & ~0777) == 0) {
        Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
        for (int i = 0; i < BITS.length; i++) {
          if ((mode & (1 << i)) != 0) {
            perms.add(BITS[i]);
          }
        }
        try {
          Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
          return;
        } catch (UnsupportedOperationException e) {
          // no POSIX attribute view on this file store
        }
      }
      // sticky, setuid or setgid bits, or no POSIX view: Hadoop's chmod
      DEFERRED.incrementAndGet();
      super.setPermission(p, permission);
    }

    /**
     * Hadoop forks {@code readlink} to tell a link from a file; a path that
     * is not a symbolic link gets its plain status without that.
     */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      if (Files.isSymbolicLink(pathToFile(f).toPath())) {
        return super.getFileLinkStatus(f);
      }
      return getFileStatus(f);
    }
  }

  /** {@link Raw} for FileContext, as Hadoop's {@code RawLocalFs} is. */
  public static class RawFs extends DelegateToFileSystem {
    RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new Raw(), conf, "file", false);
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      // the OS validates local names, as in RawLocalFs
      return true;
    }
  }

  /** The checksummed FileContext binding, as Hadoop's {@code LocalFs} is. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(uri, conf));
    }
  }
}
