package kpws.fs;

import java.io.File;
import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The {@code file:} filesystem without a process per file.
 *
 * <p>Without Hadoop's native library, {@link RawLocalFileSystem} runs
 * {@code chmod} in a child process for every file and directory it
 * creates ({@code setPermission}), and {@code readlink} for every
 * {@code getFileLinkStatus}, which {@code FileContext} calls on both
 * sides of every rename. {@link Raw} does both in the JVM. The two
 * {@code FileSystem} classes serve {@code fs.file.impl}, the two
 * {@code AbstractFileSystem} classes {@code fs.AbstractFileSystem.file.impl}
 * (the FileContext API, which streaming checkpoints and state stores
 * write through). Checksum files, permission bits and rename semantics
 * are those of the stock classes.
 */
public final class ForkFreeLocal {
  private ForkFreeLocal() {}

  /** {@link RawLocalFileSystem} that sets permissions and detects links in-process. */
  public static class Raw extends RawLocalFileSystem {
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    /** {@code chmod} for modes within 0777; setuid, setgid and sticky bits go to the shell. */
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      // BITS runs owner read .. others execute, i.e. mode bit 8 .. bit 0
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (1 << (8 - i))) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }

    /**
     * The stock method runs {@code readlink} on {@code f.toString()} and
     * returns {@code getFileStatus(f)} when that names no link; this asks
     * the same question of the same string without a process.
     */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      if (Files.isSymbolicLink(new File(f.toString()).toPath())) {
        return super.getFileLinkStatus(f);
      }
      return getFileStatus(f);
    }
  }

  /**
   * Checksummed {@code FileSystem} over {@link Raw}. A rename onto an
   * existing file returns false, as Hive's {@code ProxyLocalFileSystem}
   * (which the service loader otherwise picks for {@code file:}) does.
   */
  public static class Local extends LocalFileSystem {
    public Local() {
      super(new Raw());
    }

    @Override
    @SuppressWarnings("deprecation")
    public boolean rename(Path src, Path dst) throws IOException {
      return !isFile(dst) && super.rename(src, dst);
    }
  }

  /** {@link Raw} as an {@code AbstractFileSystem}; mirrors {@code org.apache.hadoop.fs.local.RawLocalFs}. */
  public static class RawFs extends DelegateToFileSystem {
    public RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }

  /** Checksummed {@link RawFs}; mirrors {@code org.apache.hadoop.fs.local.LocalFs}. */
  public static class LocalFs extends ChecksumFs {
    public LocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(FsConstants.LOCAL_FS_URI, conf));
    }
  }
}
